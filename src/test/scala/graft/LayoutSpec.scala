package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan

import graft.io.Layouts

/** Storage-layout guarantees: bucketed joins are exchange-free, and
  * partition layout turns selective filters into directory pruning.
  * These are write-time scale levers — the shuffle is paid once, then
  * every downstream join/scan benefits. */
class LayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def collect(plan: SparkPlan): Seq[SparkPlan] = plan match {
    // AQE's root is a LEAF node — unwrap it or every exchange-free
    // assertion passes vacuously
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: collect(a.initialPlan)
    case p => p +: p.children.flatMap(collect)
  }

  test("bucketed tables join with zero exchange; sorts stay bucket-local") {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Layouts.writeBucketed(orders, "orders_b", 8, "o_orderkey")
    Layouts.writeBucketed(lineitem, "lineitem_b", 8, "l_orderkey")
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = Layouts.bucketedJoin(spark,
          "orders_b", "o_orderkey", "lineitem_b", "l_orderkey")
        val nodes = collect(joined.queryExecution.executedPlan)
        val exchanges = nodes.filter(_.isInstanceOf[ShuffleExchangeExec])
        assert(exchanges.isEmpty,
          s"bucketed join must not shuffle, found ${exchanges.map(_.nodeName)}")
        // a per-bucket LOCAL sort is expected (Spark ≥3.1 ignores the
        // written sort order at scan time); the win is the absent
        // exchange, and the sort must sit directly on the bucketed scan
        // — no exchange beneath it
        val sorts = nodes.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sorts.forall(s => collect(s.child).forall(
          !_.isInstanceOf[ShuffleExchangeExec])),
          "any join-time sort must be bucket-local")
        // and it is still the right answer
        val expected = orders.join(lineitem,
          orders("o_orderkey") === lineitem("l_orderkey")).count()
        assert(joined.count() == expected)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("partitioned layout prunes directories for selective filters") {
    import org.apache.spark.sql.functions.col
    val out = SparkSpec.tempDir("graft-part").toString
    Layouts.writePartitioned(
      Tables.load(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value"),
      out, "event_type")
    val q = spark.read.parquet(out).filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "expected a FileSourceScanExec leaf")
    assert(scan.get.partitionFilters.nonEmpty,
      "the event_type filter must reach the scan as a partition filter")
    // pruning actually happened: only the 'click' directory is read
    assert(scan.get.relation.location.inputFiles.forall(_.contains("event_type=")))
    val read = scan.get.selectedPartitions.partitionCount
    assert(read == 1, s"expected exactly 1 pruned partition, got $read")
  }

  test("shard writer: deterministic, balanced, lossless, byte-stable") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
    val n = docs.count()
    val out1 = SparkSpec.tempDir("graft-shards1").toString
    val out2 = SparkSpec.tempDir("graft-shards2").toString
    Layouts.writeShards(docs, out1, 8)
    // a re-run (even from a differently-partitioned frame) produces the
    // same shard membership — reproducible training inputs
    Layouts.writeShards(docs.repartition(13), out2, 8)
    val r1 = spark.read.parquet(out1)
    assert(r1.select("shard").distinct().count() == 8, "all 8 shards exist")
    assert(r1.count() == n, "lossless")
    assert(r1.select("doc_id").distinct().count() == n, "no duplication")
    val sizes = r1.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.max < 2 * sizes.min + 8,
      s"hash sharding must stay balanced, got ${sizes.toSeq}")
    val m1 = r1.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    val m2 = spark.read.parquet(out2).select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(m1 == m2, "shard assignment must not depend on input partitioning")
  }

  test("shuffled shards: same membership, reproducible pseudo-random order") {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
    def write(seed: Long): Seq[Seq[Long]] = {
      val out = SparkSpec.tempDir(s"graft-shuf$seed").toString
      Layouts.writeShards(docs, out, 4, shuffled = true, seed = seed)
      // per-shard file order as a loader would stream it
      (0 until 4).map { s =>
        spark.read.parquet(s"$out/shard=$s").select("doc_id")
          .collect().map(_.getLong(0)).toSeq
      }
    }
    val a = write(1L)
    val b = write(1L)
    val c = write(2L)
    assert(a == b, "same seed must reproduce identical shard files")
    assert(a.map(_.sorted) == c.map(_.sorted),
      "seed changes order, never membership")
    assert(a != c, "a different seed must permute within-shard order")
    assert(a.forall(s => s != s.sorted),
      "shuffled order must not be key order")
  }

  test("z-order layout: exact morton interleave, 2-D-tight files vs lexicographic") {
    import org.apache.spark.sql.functions._
    // interleave arithmetic pinned on known bits: a=5 (101₂) at even
    // positions, b=3 (11₂) at odd → 1 + 16 + 2 + 8 = 27
    val morton = spark.sql(s"SELECT ${Layouts.mortonSql("5", "3")}")
      .collect().head.getAs[Number](0).longValue
    assert(morton == 27L)
    // regression: INT-typed dims with bit 15 set used to wrap negative
    // (bit 15 of b lands at position 31 — 32-bit arithmetic overflow);
    // writeZOrdered now casts to BIGINT before masking
    val intDf = spark.range(2).selectExpr(
      "CAST(40000 AS INT) AS a", "CAST(40000 AS INT) AS b", "id")
    val outInt = SparkSpec.tempDir("graft-zint").toString
    Layouts.writeZOrdered(intDf, outInt, 1, "a", "b")
    assert(spark.read.parquet(outInt).count() == 2)
    val zkey = spark.sql(s"SELECT ${Layouts.mortonSql(
      "(CAST(40000 AS BIGINT) & 65535)", "(CAST(40000 AS BIGINT) & 65535)")}")
      .collect().head.getAs[Number](0).longValue
    assert(zkey > 0, s"morton key of (40000, 40000) must be positive, got $zkey")
    // uniform 128×128 grid: a z-ordered write must keep BOTH dimensions
    // narrow per file, where a lexicographic sort leaves dim b unpruned
    val grid = spark.range(128L * 128L)
      .select((col("id") / 128).cast("long").as("a"),
        (col("id") % 128).cast("long").as("b"))
    val out = SparkSpec.tempDir("graft-zorder").toString
    Layouts.writeZOrdered(grid, out, 16, "a", "b")
    val back = spark.read.parquet(out)
    assert(back.count() == 128L * 128L, "z-order write must be lossless")
    // per-FILE zone extents — exactly what parquet min/max stats expose
    val spans = spark.read.parquet(out)
      .select(col("a"), col("b"), input_file_name().as("f"))
      .groupBy("f").agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.length >= 8, s"range exchange produced ${spans.length} files")
    val avgB = spans.map(_._2).sum.toDouble / spans.length
    // ideal 16-way z-split of a 128² grid is 32×32 tiles (span 31);
    // sampled range cuts smear boundaries — allow 3× slack, still far
    // from the 127 a lexicographic (a, b) sort pins every file at
    assert(avgB < 96, f"avg per-file b-span $avgB%.1f — not 2-D clustered")
    assert(spans.map(_._1).max < 128, "dim a must also stay partial per file")
  }
}
