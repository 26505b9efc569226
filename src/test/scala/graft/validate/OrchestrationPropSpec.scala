package graft.validate

import java.nio.file.Files

import org.scalacheck.Gen

import graft.SparkSpec
import graft.meta.{ColumnMeta, TableMetadata}

/** Property test for the validator ORCHESTRATION (V1+V2/V3+V4+V5+V6
  * composition) — the counting EXPRESSIONS have FieldCountingPropSpec
  * and the golden fixtures pin reference parity; this generates whole
  * (metadata, file) pairs across the quirk axes the reference carries
  * (multi-char quotes, the `nan` sentinel, multi-char separators,
  * blank trailing lines, extra file columns) plus injected violations,
  * and asserts `TableValidator`'s verdict equals a trivial in-memory
  * model of the contract:
  *
  *  - V1 passes iff metadata columns ⊆ header columns (superset rule);
  *  - the count check passes iff every line's count (quote-aware when a
  *    quote is declared, naive otherwise) equals the header width, OR
  *    the mismatch survives the CSV-reader fallback (V4: the PERMISSIVE
  *    parse flags no corrupt rows — blank lines are skipped by the CSV
  *    reader, so a mismatch caused only by them must still PASS, while
  *    an extra unquoted field is a token-count corruption and fails);
  *  - V1 never short-circuits the count check (both results present);
  *  - verdict = all checks pass.
  *
  * Generation stays inside the counting expressions' WELL-DEFINED
  * domain (non-empty fields; no embedded separators under the
  * degenerate multi-char `""""` quote; no n/a letters in content under
  * the `nan` sentinel, whose RAW insertion into the regex makes those
  * letters quote-like — each degradation is reference-faithful and
  * pinned by its own golden test). One deliberate quirk IS exercised:
  * under `nan` the counter is blind to the effective backslash quote,
  * so a backslash-quoted embedded separator must route through the
  * fallback and pass — orchestration, not counting. */
class OrchestrationPropSpec extends SparkSpec {

  // ---- generated case description ----------------------------------
  private case class Line(text: String, usedCount: Int, corrupt: Boolean)
  private case class Case(
      sep: String, quote: String, header: Seq[String],
      metaNames: Seq[String], lines: Seq[Line], blankTail: Boolean) {
    def width: Int = header.size
  }

  // content alphabet avoids every separator/quote char any axis uses,
  // plus 'n'/'a' (quote-like under the raw `nan` regex insertion)
  private val contentGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("bcdefgh0123456789".toSeq)).map(_.mkString))

  private val nameGen: Gen[String] =
    Gen.chooseNum(3, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('B' to 'M')).map(_.mkString))

  private val caseGen: Gen[Case] = for {
    sep <- Gen.oneOf("|", ";", "||", "~|")
    quote <- Gen.oneOf("", "\"", "\"\"\"\"", "nan")
    nCols <- Gen.chooseNum(2, 5)
    names0 <- Gen.listOfN(nCols, nameGen)
    names = names0.zipWithIndex.map { case (s, i) => s"$s$i" } // unique
    extraHeaderCol <- Gen.oneOf(true, false)
    missingMetaCol <- Gen.frequency(4 -> false, 1 -> true)
    nRows <- Gen.chooseNum(1, 6)
    header = if (extraHeaderCol) names :+ "ZEXTRA" else names
    rowSpecs <- Gen.listOfN(nRows, Gen.listOfN(header.size, for {
      v <- contentGen
      quoted <- Gen.oneOf(true, false)
      emb <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2) // embedded separators
    } yield (v, quoted, emb)))
    extraFieldRow <- Gen.frequency(5 -> false, 1 -> true)
    blankTail <- Gen.frequency(5 -> false, 1 -> true)
  } yield {
    val qc = quote match {
      case "\"" | "\"\"\"\"" => "\""
      case "nan" => "\\"
      case _ => ""
    }
    val lines = rowSpecs.zipWithIndex.map { case (cells, i) =>
      val rendered = cells.map { case (v, quotedWanted, emb0) =>
        // embedded separators only where the axis defines them: inside
        // a single-char '"' quote (counted correctly) or a 'nan'
        // backslash quote (counter-blind — the fallback-pass case);
        // never under the degenerate '""""' quote, never unquoted
        val canEmbed = quote == "\"" || quote == "nan"
        val emb = if (quotedWanted && canEmbed) emb0 else 0
        val body = if (emb == 0) v else (0 to emb).map(_ => v).mkString(sep)
        if (quotedWanted && quote.nonEmpty) (qc + body + qc, emb) else (v, 0)
      }
      val injected = extraFieldRow && i == 0
      val text = rendered.map(_._1).mkString(sep) +
        (if (injected) s"${sep}x" else "")
      val base = cells.size + (if (injected) 1 else 0)
      // quote-aware counts: a '"'-quoted embed collapses to 1 field; a
      // 'nan' embed does not (raw regex is blind to the backslash)
      val embBlind = if (quote == "nan") rendered.map(_._2).sum else 0
      val naive = base + rendered.map(_._2).sum
      val used = if (quote.nonEmpty) base + embBlind else naive
      // extra unquoted token ⇒ PERMISSIVE parse sees width+1 tokens
      Line(text, used, corrupt = injected)
    }
    Case(sep, quote, header, if (missingMetaCol) names :+ "ZMISS" else names,
      lines, blankTail)
  }

  // ---- trivial in-memory model of the contract ----------------------
  private def expectedVerdicts(c: Case): (Boolean, Boolean) = {
    val v1 = c.metaNames.toSet.subsetOf(c.header.toSet)
    val mismatch = c.lines.exists(_.usedCount != c.width) || c.blankTail
    val corrupt = c.lines.exists(_.corrupt)
    (v1, !mismatch || !corrupt)
  }

  test("generated (metadata, file) pairs: TableValidator's verdict " +
      "equals the in-memory contract model") {
    val cases = Gen.listOfN(30, caseGen)
      .apply(Gen.Parameters.default.withSize(24),
        org.scalacheck.rng.Seed(20260815L))
      .get
    // make sure generation actually covered the interesting regions
    assert(cases.exists(c => expectedVerdicts(c)._1 == false))
    assert(cases.exists(c => expectedVerdicts(c)._2 == false))
    assert(cases.exists(c => c.blankTail && !c.lines.exists(_.corrupt)))
    assert(cases.exists(c => c.sep.length > 1))
    assert(cases.exists(c => c.quote == "nan"))
    // the fallback-PASS path must actually fire: a LINE-level count
    // mismatch (not just a blank tail) that the CSV re-parse clears —
    // the 'nan' backslash-quoted embedded separator
    assert(cases.exists { c =>
      c.lines.exists(l => l.usedCount != c.width && !l.corrupt) &&
        !c.lines.exists(_.corrupt)
    }, "no counter-blind mismatch case generated — adjust seed/weights")
    cases.zipWithIndex.foreach { case (c, i) =>
      val dir = SparkSpec.tempDir(s"graft-orch-$i")
      val file = dir.resolve("t.csv")
      val content = (c.header.mkString(c.sep) +: c.lines.map(_.text))
        .mkString("\n") + "\n" + (if (c.blankTail) "\n" else "")
      Files.writeString(file, content)
      val meta = TableMetadata(
        c.metaNames.map(n => ColumnMeta(n, "VARCHAR2", "", nullable = true)),
        ".", c.sep, c.quote)
      val v = new TableValidator(spark, meta, file.toString,
        dir.resolve("bad").toString)
      val results = v.performValidation()
      val (wantV1, wantCount) = expectedVerdicts(c)
      // V5: both checks always run — V1 never short-circuits
      assert(results.size == 2 &&
        results.head.check == "column_names" &&
        results(1).check ==
          (if (c.quote.nonEmpty) "field_count_quoted" else "field_count"),
        s"case $i ($c): checks were ${results.map(_.check)}")
      assert(results.head.passed == wantV1,
        s"case $i ($c): V1 got ${results.head.passed}, want $wantV1")
      assert(results(1).passed == wantCount,
        s"case $i ($c): count got ${results(1).passed}, want $wantCount\n" +
          s"detail: ${results(1).detail}\nfile:\n$content")
      assert(v.validate() == (wantV1 && wantCount), s"case $i verdict")
    }
  }
}
