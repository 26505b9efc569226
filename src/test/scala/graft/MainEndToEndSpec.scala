package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.meta.MetadataCompiler
import graft.validate.TableValidator

/** End-to-end exit semantics of `graft.Main.run` over the reference's own
  * fixtures (all four files under `tableExamples/` of [[ReferenceFixtures]] and
  * the installed pair under `bigDataValidator/validator/`), plus a
  * crafted fixture proving
  * the typed-enforcement path a CLI user now gets (VERDICT r2 task #3).
  */
class MainEndToEndSpec extends SparkSpec {

  private val refRoot = ReferenceFixtures.path("")

  /** Stage `<base>/inputs/<table>.csv` + `<base>/metadata/csv/<table>_metadata.csv`. */
  private def stage(input: Path, metadata: Path, table: String): Path = {
    val base = Files.createTempDirectory("graft-e2e")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.copy(input, base.resolve(s"inputs/$table.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(metadata, base.resolve(s"metadata/csv/${table}_metadata.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    base
  }

  test("installed success pair passes (exit 0), typed checks included") {
    val base = stage(
      Paths.get(s"$refRoot/bigDataValidator/validator/inputs/success.csv"),
      Paths.get(s"$refRoot/bigDataValidator/validator/metadata/csv/success_metadata.csv"),
      "success")
    assert(Main.run(spark, base.toString, "success") == 0)
  }

  test("tableExamples success fixture fails: its metadata carries both mutations") {
    // All three tableExamples metadata files are byte-identical (SURVEY
    // §5): each declares BIRH_DATE (missing from the file header), so V1
    // fails even for the 'success' pairing.
    val base = stage(
      Paths.get(s"$refRoot/tableExamples/success (1).csv"),
      Paths.get(s"$refRoot/tableExamples/success_metadata (1).csv"),
      "t")
    assert(Main.run(spark, base.toString, "t") == 1)
  }

  test("fail_column_metadata fixture fails on the missing column (exit 1)") {
    val base = stage(
      Paths.get(s"$refRoot/tableExamples/success (1).csv"),
      Paths.get(s"$refRoot/tableExamples/fail_column_metadata (1).csv"),
      "t")
    assert(Main.run(spark, base.toString, "t") == 1)
  }

  test("fail_data_type_metadata fixture fails (exit 1)") {
    val base = stage(
      Paths.get(s"$refRoot/tableExamples/success (1).csv"),
      Paths.get(s"$refRoot/tableExamples/fail_data_type_metadata (1).csv"),
      "t")
    assert(Main.run(spark, base.toString, "t") == 1)
  }

  test("typed enforcement fails a table with bad NUMBER/DATE/NOT-NULL data") {
    val base = Files.createTempDirectory("graft-typed")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve("inputs/acct.csv"),
      """ID|AMOUNT|OPENED
        |1|12.50|23/1/2002
        |2|abc|14/02/1996
        |3|7.25|99/99/9999
        ||8.00|01/01/2020
        |""".stripMargin)
    Files.writeString(base.resolve("metadata/csv/acct_metadata.csv"),
      """COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;;|;.;FALSE;
        |AMOUNT;NUMBER;;|;.;TRUE;
        |OPENED;DATE;;|;.;TRUE;dd/MM/yyyy
        |""".stripMargin)
    assert(Main.run(spark, base.toString, "acct") == 1)

    // per-column findings: AMOUNT 'abc', OPENED '99/99/9999', ID blank —
    // and the lenient SimpleDateFormat-style parse accepts 23/1/2002
    val meta = MetadataCompiler.parseCsvFile(
      base.resolve("metadata/csv/acct_metadata.csv").toString)
    val v = new TableValidator(spark, meta,
      tablePath = base.resolve("inputs/acct.csv").toString,
      badRowPath = base.resolve("inputs/VALIDATION/acct_TMP/").toString)
    val typed = v.typedCheckResults()
    assert(typed.map(r => r.check -> r.failedCount).toMap == Map(
      "typed:ID:not_null" -> 1L,
      "typed:AMOUNT:type_format" -> 1L,
      "typed:OPENED:type_format" -> 1L))

    // typed bad rows were sunk as parquet with their error labels
    val bad = spark.read.parquet(v.typedBadRowPath)
    assert(bad.count() == 3)
    assert(bad.columns.contains("errors"))
  }

  test("parquet input validates end-to-end via the format argument") {
    import org.apache.spark.sql.functions.lit
    val base = Files.createTempDirectory("graft-pq-cli")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve("metadata/csv/acct_metadata.csv"),
      """COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;;|;.;FALSE;
        |AMOUNT;NUMBER;;|;.;TRUE;
        |""".stripMargin)
    import spark.implicits._
    // good table → exit 0
    Seq(("1", "12.5"), ("2", "7.0")).toDF("ID", "AMOUNT")
      .write.mode("overwrite").parquet(base.resolve("inputs/acct.parquet").toString)
    assert(Main.run(spark, base.toString, "acct",
      graft.io.SourceFormat.Parquet) == 0)
    // bad NUMBER + null ID → exit 1, typed bad rows written
    Seq(("1", "abc"), (null.asInstanceOf[String], "7.0")).toDF("ID", "AMOUNT")
      .withColumn("noise", lit(1))
      .write.mode("overwrite").parquet(base.resolve("inputs/acct.parquet").toString)
    assert(Main.run(spark, base.toString, "acct",
      graft.io.SourceFormat.Parquet) == 1)
    assert(spark.read
      .parquet(base.resolve("inputs/VALIDATION/acct_TMP_TYPED").toString)
      .count() == 2)
  }

  test("json input validates end-to-end via the format argument") {
    val base = Files.createTempDirectory("graft-json-cli")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve("metadata/csv/acct_metadata.csv"),
      """COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;;|;.;FALSE;
        |AMOUNT;NUMBER;;|;.;TRUE;
        |""".stripMargin)
    import spark.implicits._
    // good table → exit 0
    Seq(("1", "12.5"), ("2", "7.0")).toDF("ID", "AMOUNT")
      .write.mode("overwrite").json(base.resolve("inputs/acct.json").toString)
    assert(Main.run(spark, base.toString, "acct",
      graft.io.SourceFormat.Json) == 0)
    // bad NUMBER + null ID → exit 1, typed bad rows written
    Seq(("1", "abc"), (null.asInstanceOf[String], "7.0")).toDF("ID", "AMOUNT")
      .write.mode("overwrite").json(base.resolve("inputs/acct.json").toString)
    assert(Main.run(spark, base.toString, "acct",
      graft.io.SourceFormat.Json) == 1)
    assert(spark.read
      .parquet(base.resolve("inputs/VALIDATION/acct_TMP_TYPED").toString)
      .count() == 2)
  }

  test("typed checks skip declared columns missing from the file") {
    val base = Files.createTempDirectory("graft-missing")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve("inputs/m.csv"), "A|B\n1|2\n")
    Files.writeString(base.resolve("metadata/csv/m_metadata.csv"),
      """COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |A;NUMBER;;|;.;TRUE;
        |GHOST;NUMBER;;|;.;FALSE;
        |""".stripMargin)
    // V1 fails on GHOST, but the typed pass must not crash resolving it
    assert(Main.run(spark, base.toString, "m") == 1)
  }

  /** `Main.run` on `<base>/inputs/<table>.csv` holding `input`, with a
    * two-column `|` metadata; returns the exit code and what it printed. */
  private def runOn(table: String, input: String): (Int, String) = {
    val base = Files.createTempDirectory("graft-hostile")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve(s"inputs/$table.csv"), input)
    Files.writeString(base.resolve(s"metadata/csv/${table}_metadata.csv"),
      """COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;;|;.;FALSE;
        |AMOUNT;NUMBER;;|;.;TRUE;
        |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(Main.run(spark, base.toString, table))
    (code, out.toString("UTF-8"))
  }

  test("an empty CSV gets a verdict: every declared column is missing") {
    val (code, printed) = runOn("empty", "")
    assert(code == 1, printed)
    val names = printed.linesIterator.find(_.startsWith("column_names"))
    assert(names.exists(l => l.contains("FAIL") &&
      l.contains("missing columns: ID, AMOUNT")), printed)
    assert(printed.contains("validation failed!"), printed)
  }

  test("a header-only CSV passes: no data row can break a check") {
    val (code, printed) = runOn("header", "ID|AMOUNT\n")
    assert(code == 0, printed)
    assert(printed.linesIterator.forall(l =>
      !l.contains(" FAIL ")), printed)
    assert(printed.contains("validation success"), printed)
  }
}
