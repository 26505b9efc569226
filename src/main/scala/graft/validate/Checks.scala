package graft.validate

import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Par
import graft.io.{SourceFormat, Sources}
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
  * check pipeline (SURVEY.md §2.5, V1-V6), and the one orchestration for
  * every [[SourceFormat]]. The format decides only where the header comes
  * from ([[actualColumns]]) and which frame the summary job reads
  * ([[csvTable]]); the pass plan, the verdicts, the result text and the
  * sinks are shared.
  *
  * Design rules carried over from the reference's structure (and kept as
  * hard constraints for 100 TB): every check is map-only + a per-partition
  * sum collected to the driver — no exchange anywhere. The pass plan is at
  * most two Spark jobs, run concurrently ([[graft.Par.actions]]), plus the
  * sink writes:
  *  1. the header, without a job: a CSV's first line, read by the text
  *     source's line reader ([[graft.io.Sources.firstLine]]), or the
  *     Parquet file schema; a JSON read has none;
  *  2. (a) CSV only, the text job: it counts every line's fields with the
  *     linear [[FieldCounting]] expressions and takes, per partition, its
  *     line count, its mismatch count and its first mismatching line;
  *     (b) the summary job: the parsed table is projected with one flag
  *     per typed check and, for CSV and JSON, one for a corrupt record
  *     (the CSV-reader fallback's verdict, and JSON's `corrupt_records`
  *     check). Rows with no flag set are filtered out inside the plan;
  *     the rest are persisted and their flags summed per partition, in
  *     the same job. With no typed check to take, a CSV's (b) runs only
  *     after (a) found a mismatch;
  *  3. the bad-row sinks that are due are written, concurrently, from
  *     the rows (b) kept; the kept rows are released in `finally`.
  *     (b) runs beside (a), before the verdict, so it keeps every flagged
  *     row, as a copied `UnsafeRow` spilled to disk past memory, whether
  *     or not a sink turns out due: a typed-flagged row always makes the
  *     typed sink due, but a CSV row the reader flags corrupt in a table
  *     whose counts all match is kept and not written.
  * So every table is read once as text and parsed at most once, clean or
  * dirty. Every scan is planned in a clone of the caller's session whose
  * split size is `min(maxPartitionBytes, max(256 KB, ceil(input bytes /
  * cores)))` ([[TableValidator.splitBytes]]): Spark's own size never
  * goes below `openCostInBytes` (4 MB), which left a file under
  * 4 MB × cores with fewer scan tasks than cores, and the 256 KB floor
  * keeps a small table on a wide cluster from being cut into tasks that
  * cost more to schedule than to read. The caller's conf is never
  * changed.
  * There is no per-row JVM→Python crossing.
  */
final class TableValidator(
    spark: SparkSession,
    meta: TableMetadata,
    tablePath: String,
    badRowPath: String,
    format: SourceFormat = SourceFormat.Csv) {
  import TableValidator.{CorruptCol, Findings}

  // ------------------------------------------------------------ header

  /** Python `str.strip(chars)` semantics: remove any of `chars` from both
    * ends (a char SET, not a prefix/suffix — `big_data_validator.py:40-44`). */
  private[validate] def stripCharSet(s: String, chars: Set[Char]): String = {
    if (chars.isEmpty) return s
    val from = s.indexWhere(c => !chars.contains(c))
    if (from < 0) ""
    else s.substring(from, s.lastIndexWhere(c => !chars.contains(c)) + 1)
  }

  /** The session every frame of this run is planned in, the raw text
    * frame over the table and the files it lists: the session is a clone
    * of the caller's, with the split size [[TableValidator.splitBytes]]
    * set from those files before any scan runs. */
  private lazy val (session, textDf, files) = {
    val s = GraftColumns.cloneSession(spark)
    val text = Sources.text(s, tablePath)
    val listed = Sources.files(text)
    s.conf.set(TableValidator.SplitBytesKey,
      TableValidator.splitBytes(s, listed.map(_.getLen).sum))
    (s, text, listed)
  }

  /** Actual header columns, uppercased.
    *  - CSV: the first line, read without a job, split on the literal
    *    field separator, quote chars stripped as a set
    *    (`big_data_validator.py:39-47`). The
    *    stripped set is the RAW metadata cell — for the `nan` sentinel the
    *    reference strips the chars {n,a} here (no nan→\ mapping on this
    *    path), and parity requires doing the same. An empty file has no
    *    header, hence no columns: V1 then reports every declared column
    *    missing.
    *  - Parquet: the file schema's names, read from its footer, so a file
    *    that lacks a declared column fails V1 like a CSV header would.
    *  - JSON: a schema'd read has no header and yields every declared
    *    column (null where a record lacks the key), so the declared names
    *    stand in and V1 is not run; inferring the keys would cost a full
    *    scan. */
  lazy val actualColumns: Seq[String] = format match {
    case SourceFormat.Csv =>
      Sources.firstLine(session, files).toSeq.flatMap(
        _.split(Pattern.quote(meta.fieldSeparator), -1)
          .toSeq
          .map(c =>
            (if (meta.hasQuote) stripCharSet(c, meta.rawQuoteCharSet) else c)
              .toUpperCase))
    case SourceFormat.Parquet => source.columns.toSeq.map(_.toUpperCase)
    case SourceFormat.Json => meta.expectedColumns
  }

  // ---------------------------------------------------------------- V1

  /** V1: actual header must be a SUPERSET of the metadata columns — extra
    * file columns are allowed and reported, missing ones fail
    * (`big_data_validator.py:26-74`). Driver-side set algebra on a
    * single header line; not a distributed op. */
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

  /** V2: every line's naive split count must equal the header width
    * (`big_data_validator.py:174-207`). On a mismatch the verdict is the
    * CSV reader's (`big_data_validator.py:197-203`). The fallback always
    * parses [[csvTable]]; the parameter is kept for callers that pass it. */
  def validateNumberOfFields(csvTable: => DataFrame): CheckResult =
    fieldCount(quoteAware = false)

  /** V3: same with quote-aware counting — separators inside quoted spans
    * are data (`big_data_validator.py:209-256`). */
  def validateNumberOfFieldsQuoteAware(csvTable: => DataFrame): CheckResult =
    fieldCount(quoteAware = true)

  /** A CSV-only check: Parquet and JSON have no raw lines to count. */
  private def fieldCount(quoteAware: Boolean): CheckResult = {
    require(format == SourceFormat.Csv, s"no field counts for ${format.ext}")
    findings(quoteAware).count.get
  }

  // ---------------------------------------------------------------- V4

  /** V4: corrupt-record fallback (`big_data_validator.py:150-172`), given
    * the corrupt-row count of the summary job:
    * (a) a single unnamed trailing column in the read schema → warn+pass;
    * (b) otherwise fail iff the PERMISSIVE reader flagged any row
    * corrupt. The flagged rows are written to the bad-row parquet sink by
    * the sink writes (pass plan step 3), not here. A JSON read has no raw
    * count to fall back from, so this is its `corrupt_records` check. */
  private def corruptRecordFallback(corrupt: Long): CheckResult =
    if (unnamedTrailingColumn)
      CheckResult("csv_fallback", passed = true, 0,
        "unnamed empty trailing column — count mismatch ignored")
    else if (corrupt > 0)
      CheckResult("csv_fallback", passed = false, corrupt,
        s"corrupt rows written to $badRowPath")
    else
      CheckResult("csv_fallback", passed = true, 0,
        s"${format.ext} reader parsed every row")

  /** The header ends in an empty name, i.e. with a dangling separator. */
  private def unnamedTrailingColumn: Boolean =
    actualColumns.lastOption.contains("")

  // ------------------------------------------------------ orchestration

  /** The format's reader over the table. For CSV it is the S2 scan,
    * built from the ACTUAL header schema like the reference (extra
    * columns tolerated); a Parquet read does not need the header. */
  private lazy val source: DataFrame =
    Sources.table(session, meta, actualColumns, tablePath, CorruptCol, format)

  /** The parsed table the summary job reads, in any format
    * (the bench harness reads it by this name). Parquet's typed values
    * are cast to their lexical form, so the same typed checks apply. */
  lazy val csvTable: DataFrame =
    if (format == SourceFormat.Parquet) TypedChecks.lexical(source, meta)
    else source

  // ------------------------------------------------- typed enforcement

  /** Typed bad rows land next to the corrupt-row sink. */
  def typedBadRowPath: String = badRowPath.stripSuffix("/") + "_TYPED/"

  /** The declared checks on columns actually present in the file — a
    * missing declared column is V1's finding, not a typed error. */
  private def checkable: TableMetadata = {
    val present = actualColumns.toSet
    meta.copy(typeMapping =
      meta.typeMapping.filter(c => present.contains(c.name.toUpperCase)))
  }

  /** Typed per-column enforcement (SURVEY §7.1 step 4 — the
    * declared-but-unbuilt half of the reference contract): NUMBER regex,
    * DATE format parse, NOT-NULL blank check over the parsed table, taken
    * by the summary job. On any violation the offending rows
    * (annotated with their failing `column:check` labels) are written to
    * [[typedBadRowPath]]. */
  def typedCheckResults(): Seq[CheckResult] = findings(meta.hasQuote).typed

  /** The pass plan's findings per counting mode, each run once: every
    * public check reads them, so no check has a code path of its own. */
  private val plans = mutable.Map.empty[Boolean, Findings]

  private def findings(quoteAware: Boolean): Findings = plans.synchronized {
    plans.getOrElseUpdate(quoteAware, runPlan(quoteAware))
  }

  /** Steps 2 and 3 of the pass plan (see the class doc). */
  private def runPlan(quoteAware: Boolean): Findings = {
    val expected = actualColumns.size
    val sub = checkable
    def counts = textDf.select((
      if (quoteAware) FieldCounting.quoteAwareCount(col("value"),
        meta.fieldSeparator, meta.stringSeparator)
      else FieldCounting.naiveCount(col("value"), meta.fieldSeparator)).as("n"))
    var mismatch = (0L, "")
    var summary: Option[Summary] = None
    def summarize(): Unit = summary = Some(new Summary(sub))
    try {
      Par.actions(
        (if (format == SourceFormat.Csv)
          Seq(() => mismatch = TableValidator.mismatches(counts, expected))
         else Nil) ++
        (if (TypedChecks.declaresChecks(sub) || format == SourceFormat.Json)
          Seq(() => summarize())
         else Nil))
      val (badLines, offender) = mismatch
      if (badLines > 0 && summary.isEmpty && !unnamedTrailingColumn) summarize()
      val typed = summary.fold(Seq.empty[TypedChecks.ColumnCheckResult])(_.typed)
      val corrupt = summary.fold(0L)(_.corrupt)

      val name = if (quoteAware) "field_count_quoted" else "field_count"
      val count = format match {
        case SourceFormat.Csv if badLines == 0L =>
          Some(CheckResult(name, passed = true, 0, s"all rows have $expected fields"))
        case SourceFormat.Csv =>
          val fallback = corruptRecordFallback(corrupt)
          Some(fallback.copy(
            check = name,
            failedCount = badLines,
            detail = s"naive/regex count mismatch on $badLines lines, " +
              s"first offender $offender; csv-reader fallback: ${fallback.detail}"))
        case SourceFormat.Json =>
          Some(corruptRecordFallback(corrupt).copy(check = "corrupt_records"))
        case SourceFormat.Parquet => None
      }
      summary.foreach(_.writeSinks(corruptDue = count.exists(!_.passed),
        typedDue = typed.exists(!_.passed)))
      Findings(count, typed.map { r =>
        CheckResult(s"typed:${r.column}:${r.check}", r.passed, r.errorCount,
          if (r.passed) s"${r.sourceType} ok"
          else s"${r.errorCount} rows violate ${r.sourceType}" +
            s"${if (r.check == "not_null") " NOT NULL" else ""} " +
            s"(bad rows: $typedBadRowPath)")
      })
    } finally summary.foreach(_.release())
  }

  /** Step 2(b) of the pass plan, the summary job over [[csvTable]], run
    * when constructed: `sub`'s typed checks (a JSON line that does not
    * parse has only nulls, so it fails none of them) and the
    * corrupt-record check, as boolean flags. The corrupt flag is left out
    * for Parquet, which has no corrupt column, and for a header with an
    * unnamed trailing column, whose fallback passes whatever the count.
    * Only flagged rows are kept; a row with no flag adds nothing to any
    * sum, so the kept rows' flag sums are the table's counts. */
  private final class Summary(sub: TableMetadata) {
    private val corruptRow = col(CorruptCol).isNotNull
    private val typedFlags = TypedChecks.conds(sub).map { case (_, _, cond) =>
      val flag = coalesce(cond, lit(false))
      if (format == SourceFormat.Json) flag && !corruptRow else flag
    }
    private val flags = typedFlags ++
      (if (format == SourceFormat.Parquet || unnamedTrailingColumn) Nil
       else Seq(corruptRow))
    private val width = csvTable.columns.length
    private val flagged = {
      val all = csvTable.select(col("*") +: flags.zipWithIndex.map {
        case (f, i) => f.as(s"flag$i") }: _*)
      all.filter(attributes(all).drop(width).reduce(_ || _))
    }
    // the rows are copied: the scan reuses one buffer per task
    private val rows: RDD[InternalRow] = flagged.queryExecution.toRdd
      .map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    private val sums: Array[Long] = {
      val (at, n) = (width, flags.size)
      try rows.mapPartitions { it =>
        val sum = new Array[Long](n)
        it.foreach(r => (0 until n).foreach(i => if (r.getBoolean(at + i)) sum(i) += 1))
        Iterator(sum)
      }.collect().foldLeft(new Array[Long](n))((a, b) => a.zip(b).map(t => t._1 + t._2))
      catch { case e: Throwable => rows.unpersist(); throw e }
    }

    val typed: Seq[TypedChecks.ColumnCheckResult] =
      TypedChecks.results(sub, sums.take(typedFlags.size).toSeq)
    val corrupt: Long = if (flags.size > typedFlags.size) sums.last else 0L

    /** Step 3: the sinks that are due, written concurrently from the kept
      * rows: the corrupt rows, and the typed-violating rows annotated
      * with their failing `column:check` labels (`errors`). */
    def writeSinks(corruptDue: Boolean, typedDue: Boolean): Unit = {
      val kept = GraftColumns.frame(session, rows, flagged.schema)
      val (data, keptFlags) = attributes(kept).splitAt(width)
      Par.actions(Seq(
        corruptDue -> (() => Sources.writeBadRows(
          kept.filter(corruptRow).select(data: _*), badRowPath)),
        typedDue -> (() => Sources.writeBadRows(
          TypedChecks.labelled(
            kept.filter(keptFlags.take(typedFlags.size).reduce(_ || _)).select(data: _*),
            sub),
          typedBadRowPath))).collect { case (true, w) => w })
    }

    def release(): Unit = rows.unpersist()
  }

  /** `df`'s output columns, by attribute rather than by name. */
  private def attributes(df: DataFrame): Seq[Column] =
    df.queryExecution.analyzed.output.map(GraftColumns.column)

  /** V5: header check, then quote-aware or naive field count depending on
    * whether a quote char is declared. V1 does NOT short-circuit the
    * field checks (`big_data_validator.py:258-281`). Parquet has no field
    * count, JSON no header check and a `corrupt_records` check instead.
    * Typed enforcement (an extension beyond the reference — it declared
    * these in metadata but never ran them) appends per-column results. */
  def performValidation(): Seq[CheckResult] = {
    val nameCheck =
      if (format == SourceFormat.Json) Nil else Seq(validateColumnNames())
    val found = findings(meta.hasQuote)
    nameCheck ++ found.count ++ found.typed
  }

  /** V6 verdict: all checks pass. */
  def validate(): Boolean = performValidation().forall(_.passed)
}

object TableValidator {

  /** The column the PERMISSIVE readers put an unparseable line in
    * (`base_data_validation.py:16`). */
  val CorruptCol = "CorruptRecCol"

  /** The session conf holding the scan split size. */
  private val SplitBytesKey = "spark.sql.files.maxPartitionBytes"

  /** The smallest split [[splitBytes]] plans: below about this size a
    * scan task costs more to schedule than to read, so a small table on
    * many cores gets fewer tasks than cores rather than one per core. */
  private val MinSplitBytes = 256L * 1024

  /** The scan split size for `bytes` of input in session `s`: its
    * `maxPartitionBytes`, or less, so that each of the cluster's cores
    * gets a split of at least [[MinSplitBytes]]. Derived from the input,
    * so it is not a knob; at scale the session's cap decides. */
  private def splitBytes(s: SparkSession, bytes: Long): Long = {
    val cores = s.sparkContext.defaultParallelism
    math.min(JavaUtils.byteStringAsBytes(s.conf.get(SplitBytesKey)),
      math.max(MinSplitBytes, (bytes + cores - 1) / cores))
  }

  /** What one run of the pass plan found. */
  private final case class Findings(count: Option[CheckResult], typed: Seq[CheckResult])

  /** The text job: how many lines of `counts` (one `n` per line)
    * differ from `expected`, and the first of them as
    * `(count=N, line=L)` with L the 0-based line index, or "". One job:
    * each partition reports its line count, its mismatch count and its
    * first mismatch; partitions are in file order, so L is the one
    * `zipWithIndex` would give. */
  private def mismatches(counts: DataFrame, expected: Int): (Long, String) = {
    val parts = counts.queryExecution.toRdd.mapPartitions { rows =>
      var lines, bad, first = 0L
      var firstN = 0
      rows.foreach { r =>
        val n = r.getInt(0)
        if (n != expected) {
          if (bad == 0L) { first = lines; firstN = n }
          bad += 1
        }
        lines += 1
      }
      Iterator((lines, bad, first, firstN))
    }.collect()
    val at = parts.indexWhere(_._2 > 0)
    (parts.map(_._2).sum,
      if (at < 0) ""
      else s"(count=${parts(at)._4}, line=${parts.take(at).map(_._1).sum + parts(at)._3})")
  }
}
