package graft

import org.scalatest.funsuite.AnyFunSuite

/** Day-one robustness: an incremental pipeline's first run sees ZERO
  * rows in every table, and every operator must come back empty (or
  * with an all-zero report row) rather than throw. This drives the
  * ENTIRE gated surface — all of [[SparkEntry.queries]] — over a
  * zero-row copy of the catalog, so a new operator that divides by a
  * corpus count, takes `head()` of a probe, or joins a missing
  * dimension fails HERE, not in the first production backfill.
  */
class EmptyCorpusSpec extends AnyFunSuite with SparkSpec {

  private lazy val emptyDir: String = {
    val dir = SparkSpec.tempDir("graft-empty-corpus").toString
    Tables.names.foreach { t =>
      Tables.load(spark, "/root/testdata/sf0.001", t)
        .limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every gated query runs on a zero-row corpus without throwing") {
    // and none may leave its temp dir behind
    val before = SparkSpec.tmpEntries("graft-d")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on an empty corpus:\n" +
        failures.mkString("\n"))
    val left = SparkSpec.tmpEntries("graft-d") -- before
    assert(left.isEmpty, s"gates left temp dirs: ${left.toSeq.sorted}")
  }
}
