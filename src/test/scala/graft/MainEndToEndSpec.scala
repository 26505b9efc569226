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
    val base = SparkSpec.tempDir("graft-e2e")
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
    val base = SparkSpec.tempDir("graft-typed")
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
    val base = SparkSpec.tempDir("graft-pq-cli")
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
    val base = SparkSpec.tempDir("graft-json-cli")
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

  /** `<base>/metadata/csv/acct_metadata.csv` declaring ID VARCHAR2
    * (nullable as given) and AMOUNT NUMBER (nullable); returns `base`. */
  private def acctBase(prefix: String, idNullable: Boolean = false): Path = {
    val base = SparkSpec.tempDir(prefix)
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve("metadata/csv/acct_metadata.csv"),
      s"""COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;;|;.;${idNullable.toString.toUpperCase};
        |AMOUNT;NUMBER;;|;.;TRUE;
        |""".stripMargin)
    base
  }

  /** `Main.run` on table `acct` under `base`; the exit code and stdout. */
  private def runAcct(base: Path, format: graft.io.SourceFormat): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(
      Main.run(spark, base.toString, "acct", format))
    (code, out.toString("UTF-8"))
  }

  test("a parquet file missing a declared column fails column_names, " +
      "not with an exception") {
    import spark.implicits._
    val base = acctBase("graft-pq-missing")
    Seq("1", "2").toDF("ID")
      .write.mode("overwrite").parquet(base.resolve("inputs/acct.parquet").toString)
    val (code, printed) = runAcct(base, graft.io.SourceFormat.Parquet)
    assert(code == 1, printed)
    assert(printed.linesIterator.exists(l => l.startsWith("column_names") &&
      l.contains("FAIL") && l.contains("missing columns: AMOUNT")), printed)
    // the present column is still checked; the missing one is not
    assert(printed.contains("typed:ID:not_null"), printed)
    assert(!printed.contains("typed:AMOUNT"), printed)
  }

  test("a json line that does not parse fails the run and is sunk") {
    val base = acctBase("graft-json-corrupt", idNullable = true)
    Files.writeString(base.resolve("inputs/acct.json"),
      "{\"ID\":\"1\",\"AMOUNT\":\"12.5\"}\nnot json at all\n")
    val (code, printed) = runAcct(base, graft.io.SourceFormat.Json)
    assert(code == 1, printed)
    assert(printed.linesIterator.exists(l =>
      l.startsWith("corrupt_records") && l.contains("FAIL") &&
        l.contains("failed=1")), printed)
    val bad = spark.read
      .parquet(base.resolve("inputs/VALIDATION/acct_TMP").toString)
      .collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[String](TableValidator.CorruptCol) == "not json at all")
  }

  test("typed result lines read the same for csv, parquet and json") {
    import spark.implicits._
    val base = acctBase("graft-formats")
    Files.writeString(base.resolve("inputs/acct.csv"), "ID|AMOUNT\n1|12.5\n2|abc\n")
    val rows = Seq(("1", "12.5"), ("2", "abc")).toDF("ID", "AMOUNT")
    rows.write.mode("overwrite").parquet(base.resolve("inputs/acct.parquet").toString)
    rows.coalesce(1).write.mode("overwrite")
      .json(base.resolve("inputs/acct.json").toString)
    val typed = Seq(graft.io.SourceFormat.Csv, graft.io.SourceFormat.Parquet,
        graft.io.SourceFormat.Json).map { f =>
      val (code, printed) = runAcct(base, f)
      assert(code == 1, printed)
      f -> printed.linesIterator.filter(_.startsWith("typed:")).toList
    }
    val csv = typed.head._2
    assert(csv.exists(l => l.startsWith("typed:AMOUNT:type_format") &&
      l.contains("1 rows violate NUMBER (bad rows: ")), csv)
    typed.tail.foreach { case (f, lines) => assert(lines == csv, f) }
  }

  test("typed checks skip declared columns missing from the file") {
    val base = SparkSpec.tempDir("graft-missing")
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
    * two-column metadata (ID VARCHAR2 NOT NULL, AMOUNT NUMBER) declaring
    * `sep` and `quote`; returns the exit code and what it printed. */
  private def runOn(table: String, input: String, sep: String = "|",
      quote: String = ""): (Int, String) = {
    val base = SparkSpec.tempDir("graft-hostile")
    Files.createDirectories(base.resolve("inputs"))
    Files.createDirectories(base.resolve("metadata/csv"))
    Files.writeString(base.resolve(s"inputs/$table.csv"), input)
    Files.writeString(base.resolve(s"metadata/csv/${table}_metadata.csv"),
      s"""COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT
        |ID;VARCHAR2;$quote;$sep;.;FALSE;
        |AMOUNT;NUMBER;$quote;$sep;.;TRUE;
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

  /** The `name STATUS failed=N` head of every check line `Main` printed,
    * then its verdict line. */
  private def verdicts(printed: String): Seq[String] =
    printed.linesIterator.map(_.split(" +").take(3).mkString(" ")).toSeq

  private val cleanVerdicts = Seq(
    "column_names PASS failed=0",
    "field_count PASS failed=0",
    "typed:ID:not_null PASS failed=0",
    "typed:AMOUNT:type_format PASS failed=0",
    "validation success")

  test("hostile input: CRLF line endings pass, plain and quoted") {
    val (code, printed) = runOn("crlf", "ID|AMOUNT\r\n1|2.5\r\n2|3\r\n")
    assert(code == 0 && verdicts(printed) == cleanVerdicts, printed)
    val (qCode, qPrinted) =
      runOn("crlfq", "ID|AMOUNT\r\n\"1\"|\"2.5\"\r\n2|3\r\n", quote = "\"")
    assert(qCode == 0 && verdicts(qPrinted) ==
      cleanVerdicts.updated(1, "field_count_quoted PASS failed=0"), qPrinted)
  }

  test("hostile input: a UTF-8 byte-order mark does not reach the header") {
    val (code, printed) = runOn("bom", "\uFEFFID|AMOUNT\n1|2.5\n")
    assert(code == 0 && verdicts(printed) == cleanVerdicts, printed)
  }

  test("hostile input: an unterminated quote folds the next line into its field") {
    // the multiLine CSV reader reads `"1|2.5\n2|3\n` as one open field:
    // one corrupt record, which the fallback sinks
    val (code, printed) = runOn("open", "ID|AMOUNT\n\"1|2.5\n2|3\n", quote = "\"")
    assert(code == 1, printed)
    assert(verdicts(printed) == Seq(
      "column_names PASS failed=0",
      "field_count_quoted FAIL failed=1",
      "typed:ID:not_null PASS failed=0",
      "typed:AMOUNT:type_format PASS failed=0",
      "validation failed!"), printed)
    assert(printed.contains("first offender (count=1, line=1)"), printed)
  }

  test("hostile input: regex metacharacter separators are literal") {
    Seq(".", "*", "+", "$", "^").foreach { sep =>
      val (code, printed) =
        runOn("meta", s"ID${sep}AMOUNT\n1${sep}2\n2${sep}3\n", sep = sep)
      assert(code == 0 && verdicts(printed) == cleanVerdicts, s"sep <$sep>: $printed")
    }
    // metacharacters of the quote-aware count's character class: `[`
    // opens a nested class, `-` a range and `&&` an intersection
    val q = "\""
    Seq("[", "-", "&&", "[]").foreach { sep =>
      val (code, printed) =
        runOn("cls", s"ID${sep}AMOUNT\n1${sep}2\n2${sep}3\n", sep = sep)
      assert(code == 0 && verdicts(printed) == cleanVerdicts, s"sep <$sep>: $printed")
      val (dirty, dirtyPrinted) =
        runOn("clsd", s"ID${sep}AMOUNT\n1${sep}2\n2${sep}3${sep}4\n", sep = sep)
      assert(dirty == 1 && verdicts(dirtyPrinted)(1) == "field_count FAIL failed=1",
        s"sep <$sep>: $dirtyPrinted")
      val (quoted, qPrinted) = runOn("clsq",
        s"ID${sep}AMOUNT\n${q}1$q$sep${q}2$q\n2${sep}3\n", sep = sep, quote = q)
      assert(quoted == 0 && verdicts(qPrinted) ==
        cleanVerdicts.updated(1, "field_count_quoted PASS failed=0"),
        s"sep <$sep>: $qPrinted")
      val (qDirty, qdPrinted) = runOn("clsqd",
        s"ID${sep}AMOUNT\n${q}1$q$sep${q}2$q\n2${sep}3${sep}4\n", sep = sep,
        quote = q)
      assert(qDirty == 1 &&
        verdicts(qdPrinted)(1) == "field_count_quoted FAIL failed=1",
        s"sep <$sep>: $qdPrinted")
    }
  }

  test("hostile input: a backslash separator is literal to the CSV reader") {
    // the CSV `delimiter` option reads `\` as an escape: a lone `\` once
    // crashed the run, and a two-char `\t` turned into a tab
    Seq("\\", "\\t").foreach { sep =>
      val (code, printed) =
        runOn("bs", s"ID${sep}AMOUNT\n1${sep}2\n2${sep}3\n", sep = sep)
      assert(code == 0 && verdicts(printed) == cleanVerdicts, s"sep <$sep>: $printed")
      val (dirty, dirtyPrinted) =
        runOn("bsd", s"ID${sep}AMOUNT\n1${sep}2\n2${sep}3${sep}4\n", sep = sep)
      assert(dirty == 1, dirtyPrinted)
      assert(verdicts(dirtyPrinted)(1) == "field_count FAIL failed=1", dirtyPrinted)
    }
  }
}
