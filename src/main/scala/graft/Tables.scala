package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory
  * (`/root/testdata/sf*` layout — see TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] loads its inputs through here so
  * that filter pushdown / column pruning reach the parquet scan (plain
  * `spark.read.parquet`, no driver-side materialization).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table's parquet scan; `events.ts` arrives as TimestampType
    * whichever encoding the file holds ([[EventTime.normalized]]). A
    * table stored as one file is read with the schema its footer gives
    * on the driver ([[io.ParquetMeta.fileSchema]]), which runs no job;
    * a directory keeps Spark's inference. */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val df = io.ParquetMeta.fileSchema(spark, path)
      .fold(spark.read)(spark.read.schema).parquet(path)
    if (table == "events") EventTime.normalized(df) else df
  }

  /** Register all tables as temp views for `spark.sql` paths. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** [[load]] `table`, then restore scan-stage parallelism on narrow
    * inputs — the one scan-spread rule (optimization
    * guide §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read"). The test corpora ship each table as
    * ONE parquet file with ONE row group, so every scan — and with it
    * every per-row map stage (regex scrubbing, shingle/token hashing,
    * media decode, PQ encode) — plans as a SINGLE task regardless of
    * core count: the suite's map work runs 1-wide on a 32-core box,
    * which is why sf0.1→10× wall ratios cluster at 5–8× (the map half
    * scales linearly on one core).
    *
    * The width is sized to the DATA, not the box: ceil(inputBytes /
    * bytesPerTask) capped at the default parallelism. Unconditional
    * core-wide spreading measured 24% WORSE on the isolated heavy set
    * at sf0.1 — on a sub-MB input the repartition multiplies every
    * downstream stage's task count while each task holds microseconds
    * of work, and multi-job pipelines (the dedup and corpus families
    * re-read checkpointed frames many times per query) pay the
    * scheduling tax per job. The quantum keeps per-task map work well
    * above task overhead: ~1 MB of compressed text is ~1 s of
    * regex/shingle CPU vs ~10 ms of scheduling. Production layouts
    * (many files / row groups) make the partition-count gate a strict
    * no-op, so nothing here is tuned to local mode — the bytes/quantum
    * ratio IS the scale adaptation. */
  def loadSpread(spark: SparkSession, sfDir: String, table: String,
      bytesPerTask: Long = 1L << 20): DataFrame = {
    val df = load(spark, sfDir, table)
    // compressed on-disk bytes: a conservative proxy for map work
    val inputBytes = new java.io.File(s"$sfDir/$table.parquet").length()
    val target = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (inputBytes + bytesPerTask - 1) / bytesPerTask)).toInt
    if (target > 1 && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}
