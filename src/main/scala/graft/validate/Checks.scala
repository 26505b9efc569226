package graft.validate

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.Sources
import graft.meta.TableMetadata

/** Outcome of one validation check — richer than the reference's bare
  * booleans (`perform_validation` returns `List[bool]`,
  * `big_data_validator.py:258-281`) but with identical verdict semantics:
  * the run passes iff every check passes. */
final case class CheckResult(
    check: String,
    passed: Boolean,
    failedCount: Long,
    detail: String)

/** The validation engine: Spark-native re-expression of the reference's
  * check pipeline (SURVEY.md §2.5, V1-V6).
  *
  * Design rules carried over from the reference's structure (and kept as
  * hard constraints for 100 TB): every check is map-only + a scalar
  * aggregate — no shuffles anywhere; the input is scanned at most twice
  * (raw-text pass for counting, CSV parse only in the fallback).
  * Unlike the reference there is no per-row JVM→Python crossing: field
  * counting is `size(split(...))` / `size(regexp_extract_all(...))`,
  * whole-stage-codegen'd.
  */
final class TableValidator(
    spark: SparkSession,
    meta: TableMetadata,
    tablePath: String,
    badRowPath: String) {
  import TableValidator.CorruptCol

  // ------------------------------------------------------------ header

  /** Python `str.strip(chars)` semantics: remove any of `chars` from both
    * ends (a char SET, not a prefix/suffix — `big_data_validator.py:40-44`). */
  private[validate] def stripCharSet(s: String, chars: Set[Char]): String = {
    if (chars.isEmpty) return s
    val from = s.indexWhere(c => !chars.contains(c))
    if (from < 0) ""
    else s.substring(from, s.lastIndexWhere(c => !chars.contains(c)) + 1)
  }

  private lazy val textDf: DataFrame = Sources.text(spark, tablePath)

  /** Actual header columns: first line split on the literal field
    * separator, quote chars stripped as a set, uppercased
    * (`big_data_validator.py:39-47`). The stripped set is the RAW
    * metadata cell — for the `nan` sentinel the reference strips the
    * chars {n,a} here (no nan→\ mapping on this path), and parity
    * requires doing the same. An empty file has no header, hence no
    * columns: V1 then reports every declared column missing. */
  lazy val actualColumns: Seq[String] =
    textDf.head(1).headOption.toSeq.flatMap(
      _.getString(0)
        .split(Pattern.quote(meta.fieldSeparator), -1)
        .toSeq
        .map(c =>
          (if (meta.hasQuote) stripCharSet(c, meta.rawQuoteCharSet) else c)
            .toUpperCase))

  // ---------------------------------------------------------------- V1

  /** V1: actual header must be a SUPERSET of the metadata columns — extra
    * file columns are allowed and reported, missing ones fail
    * (`big_data_validator.py:26-74`). Driver-side set algebra on a
    * 1-row head; not a distributed op. */
  def validateColumnNames(): CheckResult = {
    val actual = actualColumns.toSet
    val expected = meta.expectedColumns
    val missing = expected.filterNot(actual.contains)
    if (missing.isEmpty) {
      val additional = actual.diff(expected.toSet)
      CheckResult("column_names", passed = true, 0,
        s"additional columns: ${additional.mkString(", ")}")
    } else
      CheckResult("column_names", passed = false, missing.size.toLong,
        s"missing columns: ${missing.mkString(", ")}")
  }

  // ------------------------------------------------------- field counts

  /** Quote-aware field-matching regex — see [[FieldCounting.quoteAwareRegex]]
    * for the reference-parity details (raw quote, escaped metachars). */
  def quoteAwareRegex: String =
    FieldCounting.quoteAwareRegex(meta.fieldSeparator, meta.stringSeparator)

  /** Per-line field counts, naive split (V2 projection): literal-split
    * like Python `str.split`, trailing empties kept. */
  private def naiveCounts: DataFrame =
    textDf.select(
      FieldCounting.naiveCount(col("value"), meta.fieldSeparator).as("n"))

  /** Per-line field counts, quote-aware (V3 projection). */
  private def quoteAwareCounts: DataFrame =
    textDf.select(
      FieldCounting.quoteAwareCount(col("value"), meta.fieldSeparator,
        meta.stringSeparator).as("n"))

  /** Diagnostic only: first offending (count, 0-based line index). Exact
    * line numbers need `zipWithIndex` (two narrow passes, no shuffle) —
    * paid only on the failure path, like the reference's `take(1)` log
    * (`big_data_validator.py:202,251`). */
  private def firstOffender(counts: DataFrame, expected: Int): String =
    counts.rdd
      .map(_.getInt(0))
      .zipWithIndex()
      .filter { case (n, _) => n != expected }
      .take(1)
      .map { case (n, i) => s"(count=$n, line=$i)" }
      .headOption
      .getOrElse("")

  private def fieldCountCheck(
      name: String,
      counts: DataFrame,
      csvTable: => DataFrame): CheckResult = {
    val expected = actualColumns.size
    val bad = counts.filter(col("n") =!= lit(expected))
    val badCount = bad.count()
    if (badCount == 0L)
      CheckResult(name, passed = true, 0, s"all rows have $expected fields")
    else {
      // Reference behavior: on mismatch, fall back to the Spark CSV
      // reader's verdict (`big_data_validator.py:197-203`).
      val offender = firstOffender(counts, expected)
      val fallback = corruptRecordFallback(csvTable)
      fallback.copy(
        check = name,
        failedCount = badCount,
        detail = s"naive/regex count mismatch on $badCount lines, " +
          s"first offender $offender; csv-reader fallback: ${fallback.detail}")
    }
  }

  /** V2: every line's naive split count must equal the header width
    * (`big_data_validator.py:174-207`). */
  def validateNumberOfFields(csvTable: => DataFrame): CheckResult =
    fieldCountCheck("field_count", naiveCounts, csvTable)

  /** V3: same with quote-aware counting — separators inside quoted spans
    * are data (`big_data_validator.py:209-256`). */
  def validateNumberOfFieldsQuoteAware(csvTable: => DataFrame): CheckResult =
    fieldCountCheck("field_count_quoted", quoteAwareCounts, csvTable)

  // ---------------------------------------------------------------- V4

  /** V4: corrupt-record fallback (`big_data_validator.py:150-172`).
    * (a) a single unnamed trailing column in the read schema → warn+pass;
    * (b) otherwise any row the PERMISSIVE CSV parser flagged corrupt →
    * persist them to the bad-row parquet sink and fail.
    * The cache around the probe+write is REQUIRED: Spark disallows
    * filtering a lazily-parsed CSV on only its corrupt-record column
    * (same reason the reference caches). */
  def corruptRecordFallback(df: DataFrame): CheckResult = {
    val names = df.schema.names
    if (names.length >= 2 && names(names.length - 2).isEmpty)
      return CheckResult("csv_fallback", passed = true, 0,
        "unnamed empty trailing column — count mismatch ignored")
    val badRows = df.filter(col(CorruptCol).isNotNull)
    badRows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (badRows.head(1).nonEmpty) {
        Sources.writeBadRows(badRows, badRowPath)
        CheckResult("csv_fallback", passed = false, badRows.count(),
          s"corrupt rows written to $badRowPath")
      } else
        CheckResult("csv_fallback", passed = true, 0,
          "csv reader parsed every row")
    } finally badRows.unpersist()
  }

  // ------------------------------------------------------ orchestration

  /** The parsed table (S2 scan) — built from the ACTUAL header schema,
    * like the reference (extra columns tolerated). */
  lazy val csvTable: DataFrame =
    Sources.csv(spark, meta, actualColumns, tablePath, CorruptCol)

  // ------------------------------------------------- typed enforcement

  /** Typed bad rows land next to the corrupt-row sink. */
  def typedBadRowPath: String = badRowPath.stripSuffix("/") + "_TYPED/"

  /** Typed per-column enforcement (SURVEY §7.1 step 4 — the
    * declared-but-unbuilt half of the reference contract): NUMBER regex,
    * DATE format parse, NOT-NULL blank check over the parsed table, one
    * group-less aggregate pass. Only columns actually present in the file
    * are checked — missing declared columns are V1's finding, not a typed
    * error. On any violation the offending rows (annotated with their
    * failing `column:check` labels) are written to [[typedBadRowPath]]. */
  def typedCheckResults(): Seq[CheckResult] = {
    val present = actualColumns.toSet
    val checkable = meta.typeMapping.filter(c => present.contains(c.name.toUpperCase))
    val subMeta = meta.copy(typeMapping = checkable)
    val results = TypedChecks.summarize(csvTable, subMeta)
    if (results.isEmpty) return Seq.empty
    if (results.exists(!_.passed))
      Sources.writeBadRows(TypedChecks.badRows(csvTable, subMeta), typedBadRowPath)
    results.map { r =>
      CheckResult(s"typed:${r.column}:${r.check}", r.passed, r.errorCount,
        if (r.passed) s"${r.sourceType} ok"
        else s"${r.errorCount} rows violate ${r.sourceType}" +
          s"${if (r.check == "not_null") " NOT NULL" else ""} " +
          s"(bad rows: $typedBadRowPath)")
    }
  }

  /** V5: header check, then quote-aware or naive field count depending on
    * whether a quote char is declared. V1 does NOT short-circuit the
    * field checks (`big_data_validator.py:258-281`). Typed enforcement
    * (an extension beyond the reference — it declared these in metadata
    * but never ran them) appends per-column results. */
  def performValidation(): Seq[CheckResult] = {
    val nameCheck = validateColumnNames()
    val countCheck =
      if (meta.hasQuote) validateNumberOfFieldsQuoteAware(csvTable)
      else validateNumberOfFields(csvTable)
    Seq(nameCheck, countCheck) ++ typedCheckResults()
  }

  /** V6 verdict: all checks pass. */
  def validate(): Boolean = performValidation().forall(_.passed)
}

object TableValidator {

  /** The column the PERMISSIVE readers put an unparseable line in
    * (`base_data_validation.py:16`). */
  val CorruptCol = "CorruptRecCol"
}
