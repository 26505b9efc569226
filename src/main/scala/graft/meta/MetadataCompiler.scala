package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Metadata compiler: semicolon-delimited CSV descriptor → [[TableMetadata]]
  * → JSON IR, byte-compatible with the reference's
  * `metadata_csv_to_json.py` output (golden:
  * `metadata/json/success_metadata.json`).
  *
  * Contract replicated exactly (SURVEY.md §2.5 V7):
  *  - header row (row 0) is skipped;
  *  - table-wide separators are read from DATA ROW 1 ONLY
  *    (`metadata_csv_to_json.py:19-23`);
  *  - every data row contributes a column entry with fields
  *    (name, type, format=index 6, nullable=index 5);
  *  - the compiled JSON path is the csv path with the SUBSTRING "csv"
  *    replaced by "json" (so `metadata/csv/T_metadata.csv` →
  *    `metadata/json/T_metadata.json` — directory AND extension change,
  *    `metadata_csv_to_json.py:40-44`).
  *
  * Driver-local pure Scala — metadata files are tiny; no cluster involved.
  */
object MetadataCompiler {

  /** Parse the metadata CSV (already-read lines). */
  def parseCsvLines(lines: Seq[String]): TableMetadata = {
    val dataRows = lines.drop(1).filter(_.nonEmpty)
    require(dataRows.nonEmpty, "metadata CSV has no data rows")
    // Split like the reference: literal ';', keep trailing empties
    val rows = dataRows.map(_.split(";", -1).toSeq)
    val first = rows.head
    def columnOf(values: Seq[String]) = ColumnMeta(
      name = values.head,
      sourceType = values.lift(1).getOrElse(""),
      format = values.lift(6).getOrElse(""),
      nullable = values.lift(5).getOrElse("TRUE").equalsIgnoreCase("TRUE"),
      rawNullable = values.lift(5).getOrElse("TRUE"))
    TableMetadata(
      typeMapping = rows.map(columnOf),
      decimalSeparator = first.lift(4).getOrElse("."),
      fieldSeparator = first.lift(3).getOrElse("|"),
      stringSeparator = first.lift(2).getOrElse(""))
  }

  def parseCsvFile(path: String): TableMetadata =
    parseCsvLines(
      Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq)

  // ------------------------------------------------------------- JSON out

  /** `s` as a JSON string literal, escaped exactly as Python's
    * `json.dump` with its default `ensure_ascii=True`: quote, backslash,
    * newline, CR and tab take their short escapes; every other char
    * outside printable ASCII (space to tilde) takes a 4-hex-digit
    * unicode escape of its UTF-16 unit, so astral chars become surrogate
    * pairs, as in Python. The one JSON escaper: the metadata IR,
    * `Verify`'s `oracle_sql.json` and `Bench`'s result lines use it. */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\r'         => sb.append("\\r")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Serialize to the reference's JSON IR shape. Matches Python
    * `json.dump(..., indent=4)` formatting (4-space indent, `": "` and
    * `", "` separators, insertion order TypeMapping → DecimalSeparator →
    * FieldSeparator → StringSeparator, non-ASCII escaped like Python's
    * default `ensure_ascii=True`). SourceNullable is the raw metadata
    * cell passed through verbatim, like the reference. */
  def toJson(meta: TableMetadata): String = {
    val cols = meta.typeMapping.map { c =>
      s"""        {
         |            "ColumnName": ${jsonString(c.name)},
         |            "SourceDataType": ${jsonString(c.sourceType)},
         |            "SourceDataFormat": ${jsonString(c.format)},
         |            "SourceNullable": ${jsonString(c.nullableRaw)}
         |        }""".stripMargin
    }.mkString(",\n")
    s"""{
       |    "TypeMapping": [
       |$cols
       |    ],
       |    "DecimalSeparator": ${jsonString(meta.decimalSeparator)},
       |    "FieldSeparator": ${jsonString(meta.fieldSeparator)},
       |    "StringSeparator": ${jsonString(meta.stringSeparator)}
       |}""".stripMargin
  }

  /** Parse the JSON IR back into the model (jackson is on the Spark
    * classpath — no extra dependency). */
  def fromJson(json: String): TableMetadata = {
    val root: JsonNode = new ObjectMapper().readTree(json)
    def txt(n: JsonNode, field: String): String = {
      val v = n.get(field); if (v == null || v.isNull) "" else v.asText()
    }
    val cols = root.get("TypeMapping").elements().asScala.map { c =>
      ColumnMeta(
        name = txt(c, "ColumnName"),
        sourceType = txt(c, "SourceDataType"),
        format = txt(c, "SourceDataFormat"),
        nullable = txt(c, "SourceNullable").equalsIgnoreCase("TRUE"),
        rawNullable = txt(c, "SourceNullable"))
    }.toSeq
    TableMetadata(
      typeMapping = cols,
      decimalSeparator = txt(root, "DecimalSeparator"),
      fieldSeparator = txt(root, "FieldSeparator"),
      stringSeparator = txt(root, "StringSeparator"))
  }

  /** Compile CSV → JSON file next to it, using the reference's substring
    * path rewrite convention. Returns the JSON path. */
  def compileToJsonFile(csvPath: String): String = {
    val meta = parseCsvFile(csvPath)
    val jsonPath = csvPath.replace("csv", "json")
    val p = Paths.get(jsonPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, toJson(meta))
    jsonPath
  }
}
