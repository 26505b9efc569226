package graft

import java.nio.file.{Files, Paths}

import graft.meta.MetadataCompiler.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY restricts the dump (see SparkEntry.selected);
    // unset, every gate is dumped.
    SparkEntry.queries
      .filter { case (name, _) => SparkEntry.selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // jsonString escapes every control char, so a tab or CR in an
    // oracle's SQL still parses with Python's json.load
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
