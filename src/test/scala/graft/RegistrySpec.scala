package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the gated-query registry itself — the layer the
  * driver's correctness harness trusts blindly.
  *
  * The registry is assembled into a `Map` from the per-module gate
  * lists (`SparkEntry.gates`), and `toMap` SILENTLY keeps the last
  * entry on a key collision: two gates with the same name would shadow
  * one operator with zero signal anywhere — the shadowed op simply
  * stops being verified. These tests make that a build failure
  * instead. Every gate carries its oracle by construction (`Gate`).
  */
class RegistrySpec extends AnyFunSuite {

  private val modules: Seq[(String, Seq[String])] = Seq(
    "relational" -> Queries.gates,
    "TextOps" -> ops.TextOps.gates,
    "FuzzyDedup" -> ops.FuzzyDedup.gates,
    "Similarity" -> ops.Similarity.gates,
    "Multimodal" -> ops.Multimodal.gates,
    "CorpusOps" -> ops.CorpusOps.gates,
    "GraphOps" -> ops.GraphOps.gates,
    "SqlSurface" -> ops.SqlSurface.gates,
    "StreamGates" -> streaming.StreamGates.gates,
    "ValidationQueries" -> validate.ValidationQueries.gates)
    .map { case (m, gs) => m -> gs.map(_.name) }

  test("no gate name is registered by two modules (Map ++ would shadow one)") {
    val collisions = modules.combinations(2).flatMap {
      case Seq((ma, ka), (mb, kb)) =>
        ka.intersect(kb).map(k => s"$k (in $ma AND $mb)")
    }.toSeq ++ modules.flatMap { case (m, ks) =>
      ks.diff(ks.distinct).map(k => s"$k (twice in $m)")
    }
    assert(collisions.isEmpty,
      s"gate names registered twice — one implementation is silently " +
        s"shadowed:\n${collisions.mkString("\n")}")
    assert(modules.map(_._2.size).sum == SparkEntry.queries.size)
  }

  test("gate names follow the driver convention q*/v*/d* with unique numbers") {
    val pat = "^([qvd])(\\d+)_[a-z0-9_]+$".r
    val parsed = SparkEntry.queries.keySet.toSeq.map {
      case n @ pat(series, num) => (n, series, num.toInt)
      case n => fail(s"gate name '$n' does not match ^[qvd]<num>_<slug>$$")
    }
    val dupNums = parsed.groupBy(p => (p._2, p._3)).filter(_._2.size > 1)
    assert(dupNums.isEmpty,
      s"series numbers reused: ${dupNums.keys.mkString(", ")}")
  }
}

/** The events.ts scan normalization — load-bearing and testdata-
  * generation-dependent (the physical encoding changed once already:
  * TIMESTAMP(NANOS) → TIMESTAMP(MICROS, NTZ)), so each accepted form
  * is pinned here against a hand-written file. */
class TablesSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def roundTrip(write: org.apache.spark.sql.DataFrame): Seq[java.sql.Timestamp] = {
    val dir = SparkSpec.tempDir("graft-ts").toString
    write.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"ts must normalize to TimestampType, got ${got.schema("ts").dataType}")
    got.orderBy("event_id").collect().map(_.getTimestamp(1)).toSeq
  }

  test("events.ts normalizes from nanos-long and micros-NTZ to one TimestampType") {
    import spark.implicits._
    val micros = Seq((1L, 1700000000000000L), (2L, 1700000000500000L))
    // form 1: TIMESTAMP(NANOS), which Spark surfaces as a raw nanos long
    // under spark.sql.legacy.parquet.nanosAsLong — modeled by a plain
    // long column, exactly what the scan sees
    val nanos = roundTrip(
      micros.toDF("event_id", "us")
        .select(col("event_id"), (col("us") * 1000).as("ts")))
    // form 2: TIMESTAMP(MICROS, isAdjustedToUTC=false) = TIMESTAMP_NTZ
    val ntz = roundTrip(
      micros.toDF("event_id", "us")
        .select(col("event_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts")))
    // both forms land on the identical UTC instants (session is UTC)
    assert(nanos == ntz)
    assert(nanos.head.getTime == 1700000000000L)
  }
}
