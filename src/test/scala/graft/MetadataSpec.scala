package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{ColumnMeta, MetadataCompiler, TableMetadata}

/** Metadata compiler parity against the reference's golden fixtures
  * (rebuilt in [[ReferenceFixtures]] — behavior studied, no code copied). */
class MetadataSpec extends AnyFunSuite {

  private val refMetaCsv = ReferenceFixtures.path(
    "bigDataValidator/validator/metadata/csv/success_metadata.csv")
  private val refGoldenJson = ReferenceFixtures.path(
    "bigDataValidator/validator/metadata/json/success_metadata.json")

  test("CSV parse matches reference semantics") {
    val m = MetadataCompiler.parseCsvFile(refMetaCsv)
    assert(m.fieldSeparator == "|")
    assert(m.decimalSeparator == ".")
    // raw multi-char cell survives as four literal quotes (§2.6.1)
    assert(m.stringSeparator == "\"\"\"\"")
    assert(m.typeMapping.map(_.name) ==
      Seq("ID", "NAME", "SURNAME", "BIRTH_DATE"))
    assert(m.typeMapping.map(_.sourceType) ==
      Seq("VARCHAR2", "VARCHAR2", "VARCHAR2", "DATE"))
    assert(m.typeMapping.last.format == "dd/MM/yyyy")
    assert(m.typeMapping.forall(_.nullable))
  }

  test("JSON output is byte-identical to the reference golden") {
    val m = MetadataCompiler.parseCsvFile(refMetaCsv)
    val golden = Files.readString(Paths.get(refGoldenJson))
    assert(MetadataCompiler.toJson(m) == golden)
  }

  test("JSON round-trips through fromJson") {
    val m = MetadataCompiler.parseCsvFile(refMetaCsv)
    assert(MetadataCompiler.fromJson(MetadataCompiler.toJson(m)) == m)
  }

  test("quote normalization: four-quote cell collapses to single char") {
    val m = MetadataCompiler.parseCsvFile(refMetaCsv)
    assert(m.quoteCharSet == Set('"'))
    assert(m.quoteChar == '"')
    assert(m.hasQuote)
  }

  test("'nan' sentinel maps to backslash quote (reference quirk)") {
    val m = TableMetadata(Seq(ColumnMeta("A", "VARCHAR2", "", true)),
      ".", "|", "nan")
    assert(m.effectiveQuoteString == "\\")
    assert(m.quoteChar == '\\')
    // but header stripping uses the RAW char set {n,a} — the reference
    // applies no sentinel mapping on that path (big_data_validator.py:41)
    assert(m.rawQuoteCharSet == Set('n', 'a'))
  }

  test("toJson escapes non-ASCII like Python's ensure_ascii default") {
    val m = TableMetadata(Seq(ColumnMeta("NAÏVE", "VARCHAR2", "", true)),
      ",", ";", "")
    val json = MetadataCompiler.toJson(m)
    assert(json.contains("NA\\u00cfVE"))
    assert(!json.contains("Ï"))
    assert(MetadataCompiler.fromJson(json).typeMapping.head.name == "NAÏVE")
  }

  test("toJson passes the raw SourceNullable cell through verbatim") {
    val meta = MetadataCompiler.parseCsvLines(Seq(
      "COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT",
      "A;VARCHAR2;;|;.;True;",
      "B;VARCHAR2;;|;.;no;"))
    assert(meta.typeMapping.map(_.nullable) == Seq(true, false))
    val json = MetadataCompiler.toJson(meta)
    assert(json.contains("\"SourceNullable\": \"True\""))
    assert(json.contains("\"SourceNullable\": \"no\""))
    // round-trip preserves the raw cell
    assert(MetadataCompiler.fromJson(json).typeMapping.map(_.nullableRaw) ==
      Seq("True", "no"))
  }

  test("empty separator is falsy (naive count path)") {
    val m = TableMetadata(Seq(ColumnMeta("A", "VARCHAR2", "", true)),
      ".", "|", "")
    assert(!m.hasQuote)
    assert(m.quoteChar == '"') // regex default, big_data_validator.py:224
  }

  test("compileToJsonFile uses the substring csv→json path rewrite") {
    val dir = SparkSpec.tempDir("graftmeta")
    val csvDir = dir.resolve("metadata/csv")
    Files.createDirectories(csvDir)
    val src = csvDir.resolve("t_metadata.csv")
    Files.copy(Paths.get(refMetaCsv), src)
    val out = MetadataCompiler.compileToJsonFile(src.toString)
    // BOTH the directory and extension change (§2.5 S5)
    assert(out == dir.resolve("metadata/json/t_metadata.json").toString)
    assert(Files.exists(Paths.get(out)))
  }

  test("target schema maps declared types to Spark types") {
    val m = MetadataCompiler.parseCsvFile(refMetaCsv)
    val st = m.targetSchema
    assert(st.fields.map(_.dataType.typeName).toSeq ==
      Seq("string", "string", "string", "date"))
  }
}
