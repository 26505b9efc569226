package graft.validate

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Field-counting expressions shared by the validation pipeline
  * ([[TableValidator]]) and the driver-gated validation-surface queries
  * ([[ValidationQueries]]). All codegen'd Catalyst expressions — the
  * Spark-native form of the reference's per-line Python lambdas
  * (`big_data_validator.py:191,240`) — and both linear in the line:
  *  - the naive count is the separator's occurrences plus one, taken
  *    with `replace` and `octet_length`, not by splitting on a regex
  *    that `split` compiles again for every line;
  *  - the quote-aware count matches with possessive quantifiers, so
  *    its loop keeps no backtracking state.
  * Each gives exactly the count of the form it replaced (see each
  * method), which FieldCountingPropSpec checks against those forms on
  * generated hostile lines.
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
    * :229-232 escaped only '|').
    *
    * The reference's greedy `(?:[^…]|…)+` and `[^q]*` are possessive here
    * (`[^…]++`, `[^q]*+`, `)++`), which finds the same matches: a
    * plain run and a quoted span cannot start on the same char, and
    * nothing follows the loop, so the greedy form never succeeds after
    * giving chars back — a quoted span's `[^q]*` stops at a quote or the
    * end, where giving back a char leaves neither the closing quote nor
    * `$` to match. Without backtracking states the match is linear in
    * the line. */
  def quoteAwareRegex(fieldSeparator: String, rawQuote: String): String = {
    val q = if (rawQuote != null && rawQuote.nonEmpty) rawQuote else "\""
    val sepClass = fieldSeparator.map(charClassEscape).mkString
    val sep = regexEscape(fieldSeparator)
    val qc = q.map(charClassEscape).mkString
    val ql = regexEscape(q)
    s"(?:(?:[^$sepClass$qc]++|$ql[^$qc]*+(?:$ql|$$))++|(?=$sep$sep)|(?=$sep$$)|(?=^$sep))"
  }

  /** Naive per-line field count: the fields of a literal split like
    * Python `str.split`, trailing empties kept (V2 projection, P1), i.e.
    * one more than the separator's leftmost non-overlapping
    * occurrences. `replace` removes exactly those, so the bytes it
    * removes divided by the separator's bytes count them, as
    * `size(split(line, Pattern.quote(sep), -1))` did. An empty separator
    * (which the CSV reader rejects) occurs nowhere to be removed; it
    * keeps that split, which cuts between every two chars, as the
    * header's split does. */
  def naiveCount(line: Column, fieldSeparator: String): Column = {
    val width = fieldSeparator.getBytes(UTF_8).length
    val removed = octet_length(line) - octet_length(replace(line, lit(fieldSeparator), lit("")))
    if (width == 0) size(split(line, Pattern.quote(fieldSeparator), -1))
    else (removed / width).cast("int") + 1
  }

  /** Quote-aware per-line field count — separators inside quoted spans
    * are data (V3 projection, P2). */
  def quoteAwareCount(line: Column, fieldSeparator: String, rawQuote: String): Column =
    size(regexp_extract_all(line,
      lit(quoteAwareRegex(fieldSeparator, rawQuote)), lit(0)))
}
