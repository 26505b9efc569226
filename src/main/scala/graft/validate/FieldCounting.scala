package graft.validate

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Field-counting expressions shared by the validation pipeline
  * ([[TableValidator]]) and the driver-gated validation-surface queries
  * ([[ValidationQueries]]). All codegen'd Catalyst expressions — the
  * Spark-native form of the reference's per-line Python lambdas
  * (`big_data_validator.py:191,240`).
  */
object FieldCounting {

  private[validate] def regexEscape(s: String): String =
    s.flatMap(c =>
      if ("\\^$.|?*+()[]{}".contains(c)) s"\\$c" else c.toString)

  /** `c` as a literal inside a `[...]` class: besides `\`, `^` and `]`,
    * `[` would open a nested class, `-` a range and `&&` an
    * intersection. */
  private[validate] def charClassEscape(c: Char): String =
    if ("\\^[]-&".contains(c)) s"\\$c" else c.toString

  /** Quote-aware field-matching regex: same shape as the reference's
    * pattern (`big_data_validator.py:221`, itself from a public
    * StackOverflow answer) — a field is either a run of
    * non-separator/non-quote chars or a quoted span; zero-width
    * alternatives catch empty fields.
    *
    * CRITICAL parity detail: the quote is inserted RAW, exactly like the
    * reference (`quote_char = metadata.get('StringSeparator') or '"'`,
    * :224 — note: no 'nan' mapping on this path). With the golden
    * metadata's multi-char `""""` cell the literal-quote branch can never
    * match and the char class degrades to `[^|"]` — which is precisely
    * what makes the reference count its own success fixture's
    * `"Turner|"23/1/2002"` rows as 4 fields and pass. Normalizing the
    * quote here would flip that verdict (verified by test). The only fix
    * kept is escaping ALL regex metachars (the reference's TODO at
    * :229-232 escaped only '|'). */
  def quoteAwareRegex(fieldSeparator: String, rawQuote: String): String = {
    val q = if (rawQuote != null && rawQuote.nonEmpty) rawQuote else "\""
    val sepClass = fieldSeparator.map(charClassEscape).mkString
    val sep = regexEscape(fieldSeparator)
    val qc = q.map(charClassEscape).mkString
    val ql = regexEscape(q)
    s"(?:(?:[^$sepClass$qc]|$ql[^$qc]*(?:$ql|$$))+|(?=$sep$sep)|(?=$sep$$)|(?=^$sep))"
  }

  /** Naive per-line field count: literal split like Python `str.split`,
    * trailing empties kept (V2 projection, P1). */
  def naiveCount(line: Column, fieldSeparator: String): Column =
    size(split(line, Pattern.quote(fieldSeparator), -1))

  /** Quote-aware per-line field count — separators inside quoted spans
    * are data (V3 projection, P2). */
  def quoteAwareCount(line: Column, fieldSeparator: String, rawQuote: String): Column =
    size(regexp_extract_all(line,
      lit(quoteAwareRegex(fieldSeparator, rawQuote)), lit(0)))
}
