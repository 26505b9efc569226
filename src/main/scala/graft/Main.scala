package graft

import org.apache.spark.sql.SparkSession

import graft.io.SourceFormat
import graft.meta.{MetadataCompiler, TableMetadata}
import graft.validate.TableValidator

/** CLI entry point — same run contract as the reference
  * (`spark-submit ... big_data_validator.py <TABLE_NAME>` with the
  * `inputs/<T>.csv` + `metadata/csv/<T>_metadata.csv` directory
  * conventions, `/root/reference/README.md:3-17,32-33`):
  *
  * {{{ graft.Main <baseDir> <tableName> [csv|parquet|json] }}}
  *
  * Exit 0 + "validation success" when all checks pass; exit 1 +
  * "validation failed!" otherwise (corrupt rows land in
  * `<baseDir>/inputs/VALIDATION/<T>_TMP/`, typed-violation rows in
  * `<T>_TMP_TYPED/`, both snappy parquet); exit 2 with one stderr line
  * on a usage error: no table, an unknown format, or a metadata
  * descriptor the reference rejects (an empty FIELD_SEPARATOR). Beyond
  * the reference, the run also ENFORCES the metadata-declared types
  * (the reference only declared them) — per-column `typed:*` lines in
  * the report — and accepts Parquet/JSON inputs (the reference's
  * file-type-enum TODO),
  * validated by the same [[TableValidator]]: a Parquet file's schema is
  * its header, so a missing declared column fails `column_names`; a JSON
  * read has no header, and its unparseable lines fail `corrupt_records`
  * and land in `<T>_TMP/`. Neither has raw lines to count fields in.
  */
object Main {

  /** The table's metadata: `<T>_metadata.csv` compiled to its JSON IR,
    * then loaded from it — the JSON materialization kept for fixture
    * compatibility, like the reference's read_metadata_json
    * (`base_data_validation.py:40-48`). A descriptor the reference
    * would reject throws IllegalArgumentException naming the cell. */
  def metadata(baseDir: String, table: String): TableMetadata = {
    val jsonPath = MetadataCompiler.compileToJsonFile(
      s"$baseDir/metadata/csv/${table}_metadata.csv")
    MetadataCompiler.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(jsonPath)))
  }

  /** The full validation run, session-managed by the caller (testable —
    * no sys.exit, no session lifecycle). Returns the process exit code. */
  def run(spark: SparkSession, baseDir: String, table: String,
      format: SourceFormat = SourceFormat.Csv): Int =
    runWith(spark, baseDir, table, format, metadata(baseDir, table))

  private def runWith(spark: SparkSession, baseDir: String, table: String,
      format: SourceFormat, meta: TableMetadata): Int = {
    val results = new TableValidator(spark, meta,
      s"$baseDir/inputs/$table.${format.ext}",
      s"$baseDir/inputs/VALIDATION/${table}_TMP/", format).performValidation()
    results.foreach(r =>
      println(f"${r.check}%-28s ${if (r.passed) "PASS" else "FAIL"}%-5s " +
        s"failed=${r.failedCount} ${r.detail}"))
    if (results.forall(_.passed)) { println("validation success"); 0 }
    else { println("validation failed!"); 1 }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Main <baseDir> <tableName> [csv|parquet|json]")
      System.err.println("The table is not provided")
      sys.exit(2)
    }
    val Array(baseDir, table) = args.take(2)
    val format =
      try args.lift(2).map(SourceFormat.parse).getOrElse(SourceFormat.Csv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println("usage: graft.Main <baseDir> <tableName> [csv|parquet|json]")
          System.err.println(e.getMessage)
          sys.exit(2)
      }
    // a bad descriptor is a usage error, reported before any session
    val meta =
      try metadata(baseDir, table)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"bad metadata for table $table: ${e.getMessage}")
          sys.exit(2)
      }
    // SPARK_GRAFT_MASTER points the run at a cluster; unset, it runs
    // on local[cpus]
    val spark = Session.create("graft-validator",
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq: _*)
    val code =
      try runWith(spark, baseDir, table, format, meta)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
