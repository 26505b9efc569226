package graft

import graft.meta.{ColumnMeta, TableMetadata}
import graft.validate.TypedChecks

/** Typed validation — the declared-but-unbuilt half of the reference's
  * contract (NUMBER/DATE/NOT NULL enforcement, SURVEY.md §7.1 step 4). */
class TypedChecksSpec extends SparkSpec {
  import spark.implicits._

  private val meta = TableMetadata(Seq(
    ColumnMeta("ID", "NUMBER", "", nullable = false),
    ColumnMeta("NAME", "VARCHAR2", "", nullable = true),
    ColumnMeta("BIRTH_DATE", "DATE", "dd/MM/yyyy", nullable = true)),
    ".", "|", "\"")

  private def df = Seq(
    ("1", "ok", "23/01/2002"),         // clean
    ("2.5", "ok", "01/12/1999"),       // decimal ok
    ("abc", "bad-num", "23/01/2002"),  // NUMBER violation
    ("4", "bad-date", "2002-01-23"),   // DATE format violation
    ("", "null-id", "23/01/2002"),     // NOT NULL violation
    ("6e3", "sci", null)               // scientific ok; null date ok (nullable)
  ).toDF("ID", "NAME", "BIRTH_DATE")

  test("single-pass summary counts per-column violations") {
    val s = TypedChecks.summarizeWith(df, meta)._1
    val byKey = s.map(r => (r.column, r.check) -> r.errorCount).toMap
    assert(byKey(("ID", "type_format")) == 1)   // "abc"
    assert(byKey(("ID", "not_null")) == 1)      // ""
    assert(byKey(("BIRTH_DATE", "type_format")) == 1) // ISO date
    assert(!s.exists(r => r.column == "NAME"))  // VARCHAR2 nullable: no checks
  }

  test("badRows annotates each offending row with column:check labels") {
    val bad = TypedChecks.labelled(df, meta)
      .filter(org.apache.spark.sql.functions.size($"errors") > 0)
      .select($"NAME", $"errors")
      .as[(String, Seq[String])]
      .collect()
      .toMap
    assert(bad("bad-num") == Seq("ID:type_format"))
    assert(bad("bad-date") == Seq("BIRTH_DATE:type_format"))
    assert(bad("null-id") == Seq("ID:not_null"))
    assert(bad.size == 3)
  }

  test("decimal separator normalization (European comma)") {
    val m = TableMetadata(Seq(
      ColumnMeta("X", "NUMBER", "", nullable = true)), ",", ";", "")
    val d = Seq("1,5", "2", "3.5").toDF("X")
    val s = TypedChecks.summarizeWith(d, m)._1
    // "3.5" is invalid when comma is the declared decimal separator
    assert(s.head.errorCount == 1)
  }

  test("applyTargetSchema casts to declared types") {
    val typed = TypedChecks.applyTargetSchema(
      Seq(("1", "a", "23/01/2002")).toDF("ID", "NAME", "BIRTH_DATE"), meta)
    assert(typed.schema.map(_.dataType.typeName) ==
      Seq("decimal(38,18)", "string", "date"))
    val row = typed.head()
    assert(row.getAs[java.math.BigDecimal]("ID").intValue() == 1)
    assert(row.getAs[java.sql.Date]("BIRTH_DATE").toString == "2002-01-23")
  }
}
