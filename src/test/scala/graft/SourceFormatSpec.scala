package graft

import java.nio.file.Files

import graft.io.{SourceFormat, Sources}
import graft.meta.{ColumnMeta, TableMetadata}
import graft.validate.TypedChecks

/** Parquet/JSON validator sources (the reference's own file-type-enum
  * TODO, `big_data_validator.py:134`) + typed validation end-to-end over
  * a non-CSV input via TypedChecks.lexical. */
class SourceFormatSpec extends SparkSpec {

  private val meta = TableMetadata(
    typeMapping = Seq(
      ColumnMeta("ID", "VARCHAR2", "", nullable = false),
      ColumnMeta("AMOUNT", "NUMBER", "", nullable = true),
      ColumnMeta("OPENED", "DATE", "dd/MM/yyyy", nullable = true)),
    decimalSeparator = ".", fieldSeparator = "|", stringSeparator = "")

  test("format enum parses and rejects") {
    assert(SourceFormat.parse(" Parquet ") == SourceFormat.Parquet)
    assert(SourceFormat.parse("csv") == SourceFormat.Csv)
    assert(SourceFormat.parse("JSON") == SourceFormat.Json)
    intercept[IllegalArgumentException](SourceFormat.parse("orc"))
  }

  test("parquet source validates typed declarations end-to-end") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-pq").resolve("t.parquet").toString
    // typed source: AMOUNT is already numeric, OPENED is a string date
    Seq(
      ("1", Some(12.5), "23/1/2002"),
      ("2", None, "99/99/9999"),
      (null.asInstanceOf[String], Some(7.0), "01/01/2020"))
      .toDF("ID", "AMOUNT", "OPENED")
      .write.mode("overwrite").parquet(dir)

    val df = Sources.table(spark, meta, Seq("ID", "AMOUNT", "OPENED"), dir,
      "CorruptRecCol", SourceFormat.Parquet)
    val results = TypedChecks.summarizeWith(TypedChecks.lexical(df, meta), meta)._1
    val byCheck = results.map(r => s"${r.column}:${r.check}" -> r.errorCount).toMap
    assert(byCheck == Map(
      "ID:not_null" -> 1L,        // null ID
      "AMOUNT:type_format" -> 0L, // double→string round-trips as a NUMBER
      "OPENED:type_format" -> 1L  // 99/99/9999
    ))
  }

  test("json source captures corrupt records and validates types") {
    val dir = SparkSpec.tempDir("graft-js").resolve("t.json").toString
    Files.createDirectories(java.nio.file.Paths.get(dir).getParent)
    Files.writeString(java.nio.file.Paths.get(dir),
      """{"ID":"1","AMOUNT":"12.5","OPENED":"23/1/2002"}
        |{"ID":"2","AMOUNT":"abc","OPENED":"14/02/1996"}
        |not json at all
        |""".stripMargin)
    val df = Sources.table(spark, meta, Seq("ID", "AMOUNT", "OPENED"), dir,
      "CorruptRecCol", SourceFormat.Json)
    val cached = df.cache()
    try {
      assert(cached.filter(cached("CorruptRecCol").isNotNull).count() == 1)
      val results =
        TypedChecks.summarizeWith(TypedChecks.lexical(cached, meta), meta)._1
      val byCheck = results.map(r => s"${r.column}:${r.check}" -> r.errorCount).toMap
      assert(byCheck("AMOUNT:type_format") == 1L) // 'abc'
      assert(byCheck("OPENED:type_format") == 0L)
    } finally cached.unpersist()
  }
}
