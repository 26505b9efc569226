package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** The two physical encodings `events.ts` has shipped with, decided in
  * one place. TIMESTAMP(NANOS) reads as a raw nanosecond long (under
  * `spark.sql.legacy.parquet.nanosAsLong`, set by [[Session.create]]);
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ. The
  * batch catalog ([[Tables.load]]), the file-stream reader
  * ([[streaming.EventStreams.readEvents]]) and every gate that stages
  * raw event files probe and convert through here, so the 1000× between
  * the two units cannot drift apart at one site. */
object EventTime {

  /** Whether a batch read's `ts` is the NANOS encoding. */
  def isNanos(schema: StructType): Boolean =
    schema.find(_.name == "ts").exists(_.dataType == LongType)

  /** µs of a `ts` read as a raw long — how a file stream declares it, for
    * both encodings. */
  def longMicros(nanos: Boolean): Column =
    if (nanos) expr("ts div 1000") else col("ts")

  /** µs since the epoch of a batch read's raw `ts`. The NTZ form is cast
    * to an instant first; the session time zone is UTC, so the wall
    * clock is kept. */
  def micros(schema: StructType): Column =
    if (isNanos(schema)) longMicros(nanos = true)
    else unix_micros(col("ts").cast("timestamp"))

  /** Raw-encoded `c` moved by `deltaUs`, still in the raw encoding, so a
    * planted file keeps the encoding its stream probes. */
  def shifted(schema: StructType, c: Column, deltaUs: Long): Column = {
    require(deltaUs % 60000000L == 0L,
      s"event-time shifts are whole minutes, got $deltaUs µs")
    if (isNanos(schema)) c + lit(deltaUs * 1000L)
    else c + expr(s"INTERVAL ${deltaUs / 60000000L} MINUTES")
  }

  /** A batch read of the events table with `ts` as TimestampType, so
    * every downstream operator sees one timestamp type — the same value
    * the DuckDB oracle reads natively. */
  def normalized(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(longMicros(nanos = true)))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
