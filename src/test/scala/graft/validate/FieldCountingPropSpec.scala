package graft.validate

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** Property test: for WELL-FORMED delimited lines (any mix of plain and
  * quoted fields, quoted fields may embed separators), the quote-aware
  * count equals the constructed field count and the naive count equals
  * fields + embedded separators. Random inputs run through the REAL
  * Spark expression (regexp_extract_all with the validator's pattern) in
  * one batch evaluation. On generated HOSTILE lines, the counters are
  * compared with the split and backtracking-regex forms they replaced. */
class FieldCountingPropSpec extends SparkSpec {

  // non-empty: adjacent EMPTY fields hit the reference regex's zero-width
  // quirk (consecutive empties undercount — faithful reference behavior,
  // pinned separately in ChecksSpec golden tests, out of scope here)
  private val plainField: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ ' ' :+ '.'))
      .map(_.mkString.take(12))

  // a quoted field: may contain separators but no quotes
  private val quotedField: Gen[(String, Int)] =
    for {
      parts <- Gen.nonEmptyListOf(plainField).map(_.take(4))
    } yield ("\"" + parts.mkString("|") + "\"", parts.size - 1)

  // (rendered field, embedded separator count)
  private val field: Gen[(String, Int)] =
    Gen.oneOf(plainField.map(s => (s, 0)), quotedField)

  private val lineGen: Gen[(String, Int, Int)] =
    Gen.nonEmptyListOf(field).map(_.take(6)).map { fs =>
      val line = fs.map(_._1).mkString("|")
      (line, fs.size, fs.map(_._2).sum)
    }

  test("quote-aware and naive counts on generated well-formed lines") {
    // collect a deterministic batch of generated cases, evaluate in ONE
    // Spark job (per-case jobs would be minutes of overhead)
    val cases = Gen.listOfN(300, lineGen)
      .apply(Gen.Parameters.default.withSize(24), org.scalacheck.rng.Seed(42L))
      .get
    import spark.implicits._
    val df = cases.map { case (line, n, emb) => (line, n, emb) }
      .toDF("line", "n_fields", "n_embedded")
    val out = df.select(
      col("n_fields"), col("n_embedded"),
      FieldCounting.quoteAwareCount(col("line"), "|", "\"").as("qa"),
      FieldCounting.naiveCount(col("line"), "|").as("naive"),
      col("line")).collect()
    out.foreach { r =>
      val (expected, embedded) = (r.getInt(0), r.getInt(1))
      assert(r.getInt(2) == expected,
        s"quote-aware count of '${r.getString(4)}'")
      assert(r.getInt(3) == expected + embedded,
        s"naive count of '${r.getString(4)}'")
    }
  }

  test("the linear counters count exactly as the split and backtracking forms did") {
    // the forms the counters replaced, kept here as the reference: a
    // regex split, and the reference's pattern with greedy quantifiers
    def splitCount(line: Column, sep: String): Column =
      size(split(line, Pattern.quote(sep), -1))
    def backtrackingCount(line: Column, sep: String, quote: String): Column = {
      val sepClass = sep.map(FieldCounting.charClassEscape).mkString
      val s = FieldCounting.regexEscape(sep)
      val qc = quote.map(FieldCounting.charClassEscape).mkString
      val ql = FieldCounting.regexEscape(quote)
      size(regexp_extract_all(line, lit(
        s"(?:(?:[^$sepClass$qc]|$ql[^$qc]*(?:$ql|$$))+|(?=$s$s)|(?=$s$$)|(?=^$s))"),
        lit(0)))
    }
    // "" is no separator the CSV reader takes, but the counts still agree
    val seps = Seq("|", "||", "~|", ".", "[", "-", "&&", "\\", "")
    val quotes = Seq("\"", "\"\"\"\"", "'")
    // hostile lines: any run of separator and quote pieces (so empty and
    // adjacent-empty fields and unbalanced quotes), plain and non-ASCII
    // text
    val piece = Gen.oneOf(seps ++ quotes ++ Seq("a", "bc", " ", "~", "&",
      "]", "^", "é", "中文", "\uD83D\uDE00"))
    val lines = "" +: Gen.listOfN(3000, Gen.listOf(piece).map(_.take(40).mkString))
      .apply(Gen.Parameters.default.withSize(40), org.scalacheck.rng.Seed(7L))
      .get
    import spark.implicits._
    val line = col("line")
    val pairs =
      seps.map(sep => (s"naive <$sep>", FieldCounting.naiveCount(line, sep),
        splitCount(line, sep))) ++
      (for (sep <- seps; q <- quotes) yield (s"quote-aware <$sep> <$q>",
        FieldCounting.quoteAwareCount(line, sep, q), backtrackingCount(line, sep, q)))
    // one job for every line and pair
    val rows = lines.toDF("line")
      .select(line +: pairs.flatMap { case (_, now, was) => Seq(now, was) }: _*)
      .collect()
    assert(rows.length == lines.size)
    pairs.zipWithIndex.foreach { case ((name, _, _), i) =>
      val differ = rows.filter(r => r.getInt(1 + 2 * i) != r.getInt(2 + 2 * i))
      assert(differ.isEmpty, s"$name on <${differ.headOption.map(_.getString(0))}>: " +
        s"${differ.headOption.map(r => (r.getInt(1 + 2 * i), r.getInt(2 + 2 * i)))}")
    }
  }
}
