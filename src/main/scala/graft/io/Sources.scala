package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.meta.TableMetadata

/** Table source formats — the reference's own TODO
  * ("Enumerator - file types: CSV, Parquet or JSON",
  * `big_data_validator.py:134`), completed here. `ext` is the input
  * file's extension and the format's CLI name. */
sealed abstract class SourceFormat(val ext: String)
object SourceFormat {
  case object Csv extends SourceFormat("csv")
  case object Parquet extends SourceFormat("parquet")
  case object Json extends SourceFormat("json")

  def parse(s: String): SourceFormat = {
    val name = s.trim.toLowerCase
    Seq(Csv, Parquet, Json).find(_.ext == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown source format '$name' (expected csv|parquet|json)"))
  }
}

/** Sources and sinks for the validation pipeline (SURVEY.md §2.1).
  *
  * All reads stay declarative (Catalyst plans) — the raw line scan is
  * `spark.read.text`, not an RDD, so field counting compiles into
  * whole-stage-codegen'd expressions instead of per-row lambda shipping
  * (the reference's biggest structural cost, BASELINE.md).
  */
object Sources {

  /** S1: raw line scan → single `value: string` column. */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** S2: schema'd PERMISSIVE CSV scan with corrupt-record capture —
    * option-for-option the reference reader
    * (`big_data_validator.py:118-148`) with two conscious fixes:
    *  - `quote` gets the NORMALIZED single char (the raw `""""` cell
    *    would crash univocity — SURVEY.md §2.6.1);
    *  - `multiLine` is gated on a declared quote char: multiLine=true
    *    forces one task per file, which is wrong at 100 TB unless quoted
    *    newlines are actually possible (SURVEY.md §7.3.4).
    */
  def csv(
      spark: SparkSession,
      meta: TableMetadata,
      actualColumns: Seq[String],
      path: String,
      corruptCol: String): DataFrame = {
    val quote = meta.quoteChar.toString
    spark.read
      .option("quote", quote)
      // FIXME in reference kept as-is: escape duplicates the quote char
      .option("escape", quote)
      .option("header", "true")
      // the option reads `\` as the start of an escape (`\t`, `\\`):
      // doubled, every separator char stays literal
      .option("delimiter", meta.fieldSeparator.replace("\\", "\\\\"))
      .option("enforceSchema", "false")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .option("multiLine", meta.hasQuote.toString)
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("mode", "PERMISSIVE")
      // a line is corrupt when its token count differs from the schema's;
      // a pruned parse counts only the columns a query reads, so an
      // aggregate over a few columns would see no extra-field line
      .option("columnPruning", "false")
      .schema(meta.readSchema(actualColumns, corruptCol))
      .csv(path)
  }

  /** Format-dispatching table read — the one reader behind
    * [[graft.validate.TableValidator]]:
    *  - CSV: the full PERMISSIVE reader above, schema'd by the header;
    *  - Parquet: the file's own schema (`actualColumns` is not read);
    *  - JSON: schema'd PERMISSIVE read with corrupt-record capture, the
    *    JSON analogue of the CSV path (all-string fields from metadata
    *    columns so typed checks see the raw lexical values).
    */
  def table(
      spark: SparkSession,
      meta: TableMetadata,
      actualColumns: => Seq[String],
      path: String,
      corruptCol: String,
      format: SourceFormat): DataFrame = format match {
    case SourceFormat.Csv =>
      csv(spark, meta, actualColumns, path, corruptCol)
    case SourceFormat.Parquet =>
      spark.read.parquet(path)
    case SourceFormat.Json =>
      spark.read
        .option("columnNameOfCorruptRecord", corruptCol)
        .option("mode", "PERMISSIVE")
        .schema(meta.readSchema(
          meta.typeMapping.map(_.name), corruptCol))
        .json(path)
  }

  /** S6: bad-row sink — overwrite, snappy, unpartitioned parquet
    * (`big_data_validator.py:77-95`). */
  def writeBadRows(df: DataFrame, outputPath: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("compression", "snappy")
      .parquet(outputPath)
}
