package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q85,q86 restricts the run
    // (and the dumped oracle json) to queries whose name starts with one
    // of the prefixes. Unset (the driver) = full gate.
    val keep = SparkEntry.select(SparkEntry.queries.keys.toSeq, SparkEntry.only).toSet
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      // the previous query's result is fully written by now: drop its
      // cache, leaked blocks (the r13 q250 pollution class) and dirs
      graft.store.Scratch.reset(spark)
      try {
        val df = fn(spark, sfDir)
        GateLint.assertGateSafe(name, df.schema) // q184/q240 dtype family
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Key each entry by the OUTPUT DIRECTORY name ("<name>.parquet"), which
    // is the key the driver uses for results — a bare query name here means
    // every query silently degrades to "no_oracle" (round-1 failure mode).
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(s"$k.parquet")}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
