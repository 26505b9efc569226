package graft.validate

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.meta.{ColumnMeta, TableMetadata}

/** Typed validation — the declared-but-never-enforced half of the
  * reference's contract (SURVEY.md §2.6, §7.1 step 4: the metadata
  * declares `SourceDataType`/`SourceDataFormat`/`SourceNullable` and the
  * `fail_data_type_metadata` fixture proves type checks were designed,
  * but `big_data_validator.py` never implements them).
  *
  * All checks are pure Catalyst predicates (rlike / try_to_timestamp /
  * null tests) so they are ANSI-mode-safe, codegen'd, and run in ONE
  * aggregate pass over the table — no per-column scans, no shuffles
  * (the group-less aggregate is a map-side partial + scalar merge).
  */
object TypedChecks {

  /** Per-column typed-check outcome. */
  final case class ColumnCheckResult(
      column: String,
      sourceType: String,
      check: String,
      errorCount: Long) {
    def passed: Boolean = errorCount == 0L
  }

  private def numberPattern(decimalSep: String): String = {
    val d = Pattern.quote(if (decimalSep.nonEmpty) decimalSep else ".")
    s"^[+-]?([0-9]+($d[0-9]*)?|$d[0-9]+)([eE][+-]?[0-9]+)?$$"
  }

  /** The reference's declared date formats are SimpleDateFormat-style
    * (SURVEY §1.2), and SimpleDateFormat parses sub-width fields —
    * `dd/MM/yyyy` accepts the success fixture's `23/1/2002`. Spark's
    * DateTimeFormatter is strict, so collapse exactly-double day/month/
    * hour/minute/second letters to single (single-letter patterns accept
    * 1-2 digits); triple+ runs (`MMM` month names) are left untouched. */
  private[validate] def lenientPattern(fmt: String): String =
    fmt
      .replaceAll("(?<!d)dd(?!d)", "d")
      .replaceAll("(?<!M)MM(?!M)", "M")
      .replaceAll("(?<!H)HH(?!H)", "H")
      .replaceAll("(?<!h)hh(?!h)", "h")
      .replaceAll("(?<!m)mm(?!m)", "m")
      .replaceAll("(?<!s)ss(?!s)", "s")

  /** Error predicate for one column (true = this row violates the
    * declaration). Empty strings count as missing — CSV's encoding of
    * NULL for a quoted-empty field. */
  private[validate] def errorCond(c: ColumnMeta, meta: TableMetadata): Option[Column] = {
    val v = col(c.name)
    val present = v.isNotNull && v =!= lit("")
    c.sourceType.trim.toUpperCase match {
      case "NUMBER" =>
        Some(present && !v.rlike(numberPattern(meta.decimalSeparator)))
      case "DATE" if c.format.nonEmpty =>
        Some(present && try_to_timestamp(v, lit(lenientPattern(c.format))).isNull)
      case _ => None // VARCHAR2 (or unknown): any string is valid
    }
  }

  private def nullCond(c: ColumnMeta): Option[Column] =
    if (c.nullable) None
    else Some(col(c.name).isNull || col(c.name) === lit(""))

  /** All (column, checkName, predicate) triples for a table. */
  private def conds(meta: TableMetadata): Seq[(ColumnMeta, String, Column)] =
    meta.typeMapping.flatMap { c =>
      errorCond(c, meta).map((c, "type_format", _)).toSeq ++
        nullCond(c).map((c, "not_null", _)).toSeq
    }

  /** Whether `meta` declares any check a row can fail. */
  def declaresChecks(meta: TableMetadata): Boolean = conds(meta).nonEmpty

  /** The typed aggregate list, built here only: one
    * `sum(when(cond, 1))` per declared check, named `e0`, `e1`, … in
    * [[conds]] order. */
  private def errorSums(cs: Seq[(ColumnMeta, String, Column)]): Seq[Column] =
    cs.zipWithIndex.map { case ((_, _, cond), i) =>
      sum(when(cond, 1L).otherwise(0L)).as(s"e$i")
    }

  /** One-pass per-column error summary: a single group-less aggregate of
    * [[errorSums]], with `extra` long-valued aggregates taken in the same
    * pass; returns the typed results and the extra values in order (a sum
    * over no rows reads 0). Runs no job when there is nothing to
    * aggregate. */
  def summarizeWith(df: DataFrame, meta: TableMetadata, extra: Column*)
      : (Seq[ColumnCheckResult], Seq[Long]) = {
    val cs = conds(meta)
    val aggs = errorSums(cs) ++ extra
    if (aggs.isEmpty) return (Nil, Nil)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val values = aggs.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    (cs.zip(values).map { case ((c, name, _), n) =>
      ColumnCheckResult(c.name, c.sourceType, name, n)
    }, values.drop(cs.size))
  }

  /** The same one-pass summary as a lazy DataFrame (no driver collect):
    * the single agg row is unpivoted with `stack` into
    * (col_name, check_name, n_errors) — used by the driver-gated
    * validation-surface query [[ValidationQueries]]. */
  def summaryDf(df: DataFrame, meta: TableMetadata): DataFrame = {
    val cs = conds(meta)
    require(cs.nonEmpty, "metadata declares no typed checks")
    val aggs = errorSums(cs)
    val stackArgs = cs.zipWithIndex.map { case ((c, name, _), i) =>
      s"'${c.name}', '$name', e$i"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cs.size}, $stackArgs) AS (col_name, check_name, n_errors)")
  }

  /** `df` with an `errors` column: the list of the row's failing
    * `column:check` labels, empty for a row that passes every check. */
  def labelled(df: DataFrame, meta: TableMetadata): DataFrame = {
    val labels = conds(meta).map { case (c, name, cond) =>
      when(cond, lit(s"${c.name}:$name")).otherwise(lit(null))
    }
    df.withColumn("errors", filter(array(labels: _*), _.isNotNull))
  }

  /** Project a (possibly already-typed) table down to the declared
    * columns in lexical string form, so the same typed checks run
    * unchanged over Parquet sources ([[graft.io.SourceFormat]]) —
    * a typed source value that can't round-trip its declared lexical
    * form (e.g. a double in a NUMBER column) is still checkable, and a
    * null stays a null for the NOT-NULL check. Columns missing from the
    * source are skipped (they are the header check's finding). */
  def lexical(df: DataFrame, meta: TableMetadata): DataFrame = {
    val present = df.schema.names.map(_.toUpperCase).toSet
    val cols = meta.typeMapping
      .filter(c => present.contains(c.name.toUpperCase))
      .map(c => col(c.name).cast("string").as(c.name))
    df.select(cols: _*)
  }

  /** The load path: cast the all-string validated table to its declared
    * target schema (NUMBER → Decimal(38,18) with DecimalSeparator
    * normalization, DATE → to_date(fmt), VARCHAR2 → string; extra file
    * columns are dropped, projection prunes them at the scan). */
  def applyTargetSchema(df: DataFrame, meta: TableMetadata): DataFrame = {
    val cols = meta.typeMapping.map { c =>
      val v = col(c.name)
      (c.sourceType.trim.toUpperCase match {
        case "NUMBER" =>
          val norm =
            if (meta.decimalSeparator == "." || meta.decimalSeparator.isEmpty) v
            else regexp_replace(v, Pattern.quote(meta.decimalSeparator), ".")
          norm.cast(DecimalType(38, 18))
        case "DATE" if c.format.nonEmpty =>
          try_to_timestamp(v, lit(lenientPattern(c.format))).cast("date")
        case "DATE" => v.cast("date")
        case _ => v
      }).as(c.name)
    }
    df.select(cols: _*)
  }
}
