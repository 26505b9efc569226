package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{CorpusOps, Multimodal}

/** Planted edge-case specs for the round-13 gates: each pins, on a
  * hand-computed fixture, the semantics corner the corpus gate can
  * pass without exercising — bin straddling (d200), the exact skip
  * threshold (d201), the decay-window cutoff (d199), transcode-flag
  * arithmetic inside one cluster (d198), FK-propagation counts (d203),
  * the Morton formula generator (d202), ordered-set tie resolution
  * (q41), windowed-DISTINCT peer semantics (q42), and LOCF's
  * leading-null region (q44).
  */
class GateEdgeSpec extends SparkSpec {

  private def tmp(): String = SparkSpec.tempDir("gateedge").toString

  private val H = 3600L * 1000000
  private val D = 86400L * 1000000
  private val T0 = 1700006400L * 1000000 // midnight UTC, µs

  private def plantEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The engines' shared 60-bit md5-prefix hash, reimplemented
    * independently for expectation arithmetic. */
  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  // ------------------------------------------------------------- d199
  test("d199 decayed engagement: halving weights, window cutoff at 8 " +
      "days, zero score for window-outside users") {
    val dir = tmp()
    plantEvents(dir, Seq(
      (1L, T0 + 20 * D, 1L, "view", 0.0), // anchor day, weight 128
      (2L, T0 + 20 * D + H, 1L, "view", 0.0), // same day, weight 128
      (3L, T0 + 13 * D, 1L, "view", 0.0), // age 7 -> weight 1
      (4L, T0 + 12 * D, 1L, "view", 0.0), // age 8 -> OUTSIDE the window
      (5L, T0, 2L, "view", 0.0), (6L, T0, 2L, "view", 0.0),
      (7L, T0 + D, 2L, "view", 0.0))) // user 2 all age >= 19
    val got = CorpusOps.d199DecayedEngagement(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 4L, 2 * 128L + 1L), (2L, 3L, 0L)), s"got $got")
  }

  // ------------------------------------------------------------- q46
  test("q46 tz calendar: spring-forward day skips wall-clock 2am, " +
      "fall-back maps two UTC hours onto one wall-clock hour — same " +
      "civil day either way") {
    val dir = tmp()
    def us(s: String): Long =
      java.time.Instant.parse(s).toEpochMilli * 1000L
    // Planted so the gate's +68d shift lands pair A at 06:30Z/07:30Z
    // on 2024-03-10 (01:30 EST / 03:30 EDT — wall-clock 2am skipped)
    // and the +300d shift lands pair B at 05:30Z/06:30Z on 2024-11-03
    // (01:30 EDT / 01:30 EST — the repeated hour).
    plantEvents(dir, Seq(
      (1L, us("2024-01-02T06:30:00Z"), 1L, "view", 1.0),
      (2L, us("2024-01-02T07:30:00Z"), 1L, "view", 1.0),
      (3L, us("2024-01-08T05:30:00Z"), 1L, "view", 1.0),
      (4L, us("2024-01-08T06:30:00Z"), 1L, "view", 1.0)))
    val got = Queries.q46TzCalendar(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getLong(4))).toList
    // Each planted pair appears in BOTH shifted windows; the non-DST
    // rows pin plain conversion, the 03-10/11-03 rows the transitions.
    assert(got == List(
      ("fall", "2024-10-28", 2L, 2.0, 2L),
      ("fall", "2024-11-03", 2L, 2.0, 2L), // 2 UTC hours, 1 wall hour
      ("spring", "2024-03-10", 2L, 2.0, 2L),
      ("spring", "2024-03-16", 2L, 2.0, 2L)), s"got $got")
    // The skipped/repeated wall-clock hours themselves, pinned on the
    // same conversion the gate uses:
    import spark.implicits._
    val walls = Seq(
      us("2024-03-10T06:30:00Z"), us("2024-03-10T07:30:00Z"),
      us("2024-11-03T05:30:00Z"), us("2024-11-03T06:30:00Z"))
      .toDF("us")
      .select(hour(from_utc_timestamp(timestamp_micros(col("us")),
        "America/New_York")).as("h"))
      .collect().map(_.getInt(0)).toList
    assert(walls == List(1, 3, 1, 1), s"wall hours $walls") // 2am absent
  }

  // ------------------------------------------------------------- d200
  test("d200 compaction plan: next-fit by cumulative offset — a file " +
      "may overshoot its bin, the next file starts the next bin") {
    val dir = tmp()
    // hour 0: 100 rows (51200 B, offset 0 -> bin 0); hour 1: 50 rows
    // (25600 B, offset 51200 -> bin 0, bin total 76800 OVERSHOOTS the
    // 65536 target); hour 2: 30 rows (offset 76800 -> bin 1)
    val rows = (0 until 100).map(i => (i.toLong, T0 + i, 1L, "a", 0.0)) ++
      (0 until 50).map(i => (200L + i, T0 + H + i, 1L, "a", 0.0)) ++
      (0 until 30).map(i => (400L + i, T0 + 2 * H + i, 1L, "a", 0.0))
    plantEvents(dir, rows)
    val h0 = (T0 / H) // hour bucket index of T0
    val got = CorpusOps.d200CompactionPlan(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toList
    assert(got == List(
      ("a", 0L, 2L, 76800L, h0, h0 + 1),
      ("a", 1L, 1L, 15360L, h0 + 2, h0 + 2)), s"got $got")
  }

  // ------------------------------------------------------------- d201
  test("d201 file skipping: a file whose max is exactly the threshold " +
      "is kept and matches; all-below files skip") {
    val dir = tmp()
    plantEvents(dir, Seq(
      (1L, T0, 1L, "a", 100.0), (2L, T0 + 1, 1L, "a", 150.0),
      (3L, T0 + 2, 1L, "a", 299.99), // day 0: max 29999 -> skipped
      (4L, T0 + D, 1L, "a", 300.0), // exactly 30000: kept AND matching
      (5L, T0 + D + 1, 1L, "a", 10.0), (6L, T0 + D + 2, 1L, "a", 20.0)))
    val got = CorpusOps.d201FileSkipping(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    assert(got == List(("a", 2L, 1L, 3L, 1L)), s"got $got")
  }

  // ------------------------------------------------------------- d202
  test("d202 morton formula generator: the emitted Spark expression " +
      "equals an independent bit-interleave for 16-bit inputs") {
    import spark.implicits._
    def ref(u: Long, d: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((u >> i) & 1L) << (2 * i)
        z |= ((d >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (43690L, 21845L), (300L, 77L),
      (12345L, 54321L))
    val formula = CorpusOps.mortonFormula("(u & 65535)", "(d & 65535)",
      (e, k) => s"shiftleft(CAST($e AS BIGINT), $k)",
      (e, k) => s"shiftright($e, $k)")
    val got = cases.toDF("u", "d").withColumn("zv", expr(formula))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (u, d, zv) =>
      assert(zv == ref(u, d), s"morton($u, $d): got $zv want ${ref(u, d)}")
    }
  }

  // ------------------------------------------------------------- d203
  test("d203 deletion sweep: FK propagation counts rows and monthly " +
      "partitions; non-listed customers' data survives") {
    import spark.implicits._
    val dir = tmp()
    val custKeys = (1L to 60L)
    val deleted = custKeys.filter(k => hash60(k.toString) % 20 == 0)
    assert(deleted.nonEmpty, "fixture needs at least one listed customer")
    val delC = deleted.head
    val keptC = custKeys.find(k => hash60(k.toString) % 20 != 0).get
    custKeys.map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // two orders for the deleted customer in DIFFERENT months, one for
    // a kept customer (must not be purged)
    Seq((100L, delC, "2024-01-15"), (101L, delC, "2024-02-15"),
      (102L, keptC, "2024-01-20"))
      .toDF("o_orderkey", "o_custkey", "d")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("d")).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // three lines on the purged orders across two ship months + one
    // line on the kept order
    Seq((100L, "2024-01-18"), (100L, "2024-02-02"), (101L, "2024-02-20"),
      (102L, "2024-01-25"))
      .toDF("l_orderkey", "d")
      .select(col("l_orderkey"), to_date(col("d")).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = CorpusOps.d203DeletionSweep(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List(
      ("1_customer", deleted.size.toLong, 1L),
      ("2_orders", 2L, 2L),
      ("3_lineitem", 3L, 2L)), s"got $got (deleted=$deleted)")
  }

  // ------------------------------------------------------------- d198
  test("d198 transcode audit: one exact-hash cluster flags on " +
      "bitrate/duration spread; singletons are excluded") {
    import spark.implicits._
    val dir = tmp()
    // docs 10 and 13 share text -> same envelope hash -> one cluster.
    // d139 synthesis: bitrate 10%5=0 -> 64 vs 13%5=3 -> 192 kbps;
    // rate both 48000 (10%3 = 13%3 = 1); frames 3 vs 2 ->
    // durations 3*1152e6/48000 = 72000 vs 48000 µs -> spread 24000.
    Seq((10L, "repeated payload body"), (13L, "repeated payload body"),
      (11L, "zzzz totally different content zzzz"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.d198TranscodeDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toList
    assert(got == List((10L, 2L, 2L, 1L, 24000L, true)), s"got $got")
  }

  // -------------------------------------------------------------- q41
  test("d213 peak concurrency: a ship and an order at the same instant " +
      "never overcount, and a month inherits cross-boundary level") {
    import spark.implicits._
    val dir = tmp()
    def ts(day: Int, month: Int = 1) =
      java.sql.Timestamp.valueOf(f"1995-$month%02d-$day%02d 00:00:00")
    // A [Jan10, Jan20), B [Jan15, Feb5), C [Jan20, Feb10): C is ordered
    // at the INSTANT A ships — half-open semantics (−1 before +1) keep
    // the Jan peak at 2; B carries level 1 across the month boundary,
    // so Feb's peak is measured correctly from its own first event.
    Seq((1L, ts(10)), (2L, ts(15)), (3L, ts(20)))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1, ts(20)), (2L, 1, ts(5, 2)), (3L, 1, ts(10, 2)))
      .toDF("l_orderkey", "l_linenumber", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = CorpusOps.d213PeakConcurrency(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toList
    assert(got == List(
      ("1995-01-01", 2L, 4L),
      ("1995-02-01", 1L, 2L)), s"got $got")
  }

  test("d214 variant: a missing path is NULL (never an error) and the " +
      "aggregated schema merges the keys actually seen") {
    import spark.implicits._
    val dir = tmp()
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
        "click", 0.0, """{"k": 1}"""),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L,
        "click", 0.0, """{"j": 5}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d214VariantExtract(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    // the j-only row's $.k extraction is NULL, so the aggregates see
    // exactly one k value; $.missing never errors and never hits
    assert(row.getAs[Long]("n") == 2L)
    assert(row.getAs[Long]("sum_k") == 1L)
    assert(row.getAs[Long]("min_k") == 1L)
    assert(row.getAs[Long]("max_k") == 1L)
    assert(row.getAs[Long]("n_missing_hits") == 0L)
    val schema = row.getAs[String]("vschema")
    assert(schema.contains("k") && schema.contains("j"),
      s"merged variant schema must carry both observed keys: $schema")
  }

  test("d215 aspect buckets: an exact midpoint ties to the SMALLER " +
      "ratio, and the last batch's fill is the remainder") {
    import spark.implicits._
    val dir = tmp()
    // ids chosen so every doc snaps to the square bucket (r12 = 12);
    // id 30 decodes to 14x12, EQUIDISTANT (|12w−12h| = |12w−16h| = 24)
    // from 1:1 and 4:3 — the integer tie must break to 12. Nine docs →
    // two batches of 8, last fill 1.
    val ids = Seq(0L, 1L, 26L, 27L, 28L, 29L, 30L, 54L, 55L)
    ids.map(i => (i, "payload text for planted aspect fixture"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.d215AspectBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List((12L, 9L, 2L, 1L)), s"got $got")
  }

  test("d217 pq adc: constant-vector fixture — hand-computed codebook, " +
      "LUT sums, and the equidistant encode tie to the lower code") {
    import spark.implicits._
    // vectors constant across all 64 dims, so every 16-dim subspace is
    // the same constant and L2² = 16·(a−b)². Training sample (%5==0)
    // is {v0=0, v5=5}; after the Lloyd rounds the per-subspace codebook
    // is exactly {code 0 → 0.0, code 5 → 5.0}. Encode: value < 2.5 →
    // code 0, > 2.5 → code 5; v8 = 2.5 is EQUIDISTANT (d_e4 = 1000000
    // to both) and must take the LOWER code. ADC distances are then
    // exact integers: 4 · 16·(q−c)²·10⁴.
    val vals = Map(0L -> 0.0, 1L -> 1.0, 2L -> 4.0, 3L -> 3.0, 4L -> 4.0,
      5L -> 5.0, 6L -> 5.0, 7L -> 6.0, 8L -> 2.5)
    val e = vals.toSeq.sortBy(_._1)
      .map { case (id, a) => (id, Array.fill(64)(a)) }
      .toDF("vec_id", "v")
    val got = graft.ops.Similarity.pqAdc(e).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (0L, 1, 1L, 0L),          // q0 (code 0): v1 shares its codes
      (0L, 2, 8L, 0L),          // the tie-encoded v8 sits in code 0
      (0L, 3, 2L, 16000000L),   // first code-5 member: 4·16·25·10⁴
      (1L, 1, 0L, 640000L),     // q1→c0 is 16·1·10⁴ per subspace
      (1L, 2, 8L, 640000L),
      (1L, 3, 2L, 10240000L),   // q1→c5 is 16·16·10⁴ per subspace
      (2L, 1, 3L, 640000L),     // q2 (v2=4 → code 5): c5 members first
      (2L, 2, 4L, 640000L),
      (2L, 3, 5L, 640000L)), s"got $got")
  }

  test("d219 ivfpq: planted two-direction fixture — residual codebooks, " +
      "per-cell routing, and hand-computed ADC integers") {
    import spark.implicits._
    // two orthogonal directions: u = ones in dims 1-32, w = ones in
    // dims 33-64. Cosine routes every u-multiple to cell 0 (seed v0)
    // and every w-multiple to cell 1 (seed v1) with sims exactly 1/0.
    // Training sample (%5==0) = {0,5,10,15} → trained centroids
    // cent0 = mean(1u,3u) = 2u, cent1 = mean(2w,4w) = 3w. Residuals
    // are then c·u / c·w; subspace codebooks (2 codes, seeds = r0/r1)
    // converge to m0/m1: {code0 −1, code1 0.3333}, m2/m3:
    // {code0 0.3333, code1 −1} (4dp Lloyd means). Every expected
    // adc_e4 below is the hand sum of per-subspace
    // round(16·(qr−code)²·10⁴) integers — e.g. q0 (qr = −u) against
    // the (1,1,0,0)-coded cell-0 members: 2·284430 + 2·17774 = 604408;
    // q2 (qr = 2u) against v0's all-zero codes: 2·1440000 + 2·17774 =
    // 2915548. With nProbe = 1 candidates may surface ONLY from the
    // query's own routed cell — every expected vec_id below is
    // direction-matched, which is the routing pin.
    def vec(c: Double, half: Int): Array[Double] = {
      val a = new Array[Double](64)
      val off = if (half == 0) 0 else 32
      var i = 0; while (i < 32) { a(off + i) = c; i += 1 }
      a
    }
    val e = Seq(
      (0L, vec(1, 0)), (1L, vec(2, 1)), (2L, vec(4, 0)), (3L, vec(2, 0)),
      (4L, vec(5, 1)), (5L, vec(3, 0)), (10L, vec(2, 1)), (15L, vec(4, 1)))
      .toDF("vec_id", "v")
    val got = graft.ops.Similarity.ivfpq(e, k = 2, pqK = 2, nProbe = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (0L, 1, 2L, 604408L),   // byte-identical codes → exact tie,
      (0L, 2, 3L, 604408L),   // broken by vec_id
      (0L, 3, 5L, 604408L),
      (1L, 1, 10L, 35548L),   // 10 shares q1's codes: 2·17774 + 2·0
      (1L, 2, 4L, 604408L),
      (1L, 3, 15L, 604408L),
      (2L, 1, 3L, 924472L),   // 2·444462 + 2·17774
      (2L, 2, 5L, 924472L),
      (2L, 3, 0L, 2915548L)), s"got $got")
  }

  test("d224 ivfpq refine: with every cell probed and R covering the " +
      "candidate list, refine IS exact search — hand-computed L2 ranks") {
    import spark.implicits._
    // the d219 two-direction fixture; nProbe = k = 2 probes both
    // cells, R = 10 > 7 candidates, so the ADC stage only GENERATES
    // and the exact re-rank decides everything: expected rows are the
    // hand L2² integers (32·Δ²·10⁴ per same-direction pair, mixed
    // directions add both halves)
    def vec(c: Double, half: Int): Array[Double] = {
      val a = new Array[Double](64)
      val off = if (half == 0) 0 else 32
      var i = 0; while (i < 32) { a(off + i) = c; i += 1 }
      a
    }
    val e = Seq(
      (0L, vec(1, 0)), (1L, vec(2, 1)), (2L, vec(4, 0)), (3L, vec(2, 0)),
      (4L, vec(5, 1)), (5L, vec(3, 0)), (10L, vec(2, 1)), (15L, vec(4, 1)))
      .toDF("vec_id", "v")
    val got = graft.ops.Similarity
      .ivfpqRefine(e, k = 2, pqK = 2, nProbe = 2, r = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (0L, 1, 3L, 320000L),   // 1u→2u: 32·1
      (0L, 2, 5L, 1280000L),  // 1u→3u: 32·4
      (0L, 3, 1L, 1600000L),  // 1u→2w: 32·1 + 32·4 (tie with 10 → id)
      (1L, 1, 10L, 0L),       // byte-identical vector
      (1L, 2, 15L, 1280000L),
      (1L, 3, 0L, 1600000L),
      (2L, 1, 5L, 320000L),
      (2L, 2, 3L, 1280000L),
      (2L, 3, 0L, 2880000L)), s"got $got")
  }

  test("d216 minhash delta: exact copies match their corpus rep, best " +
      "match wins, and an unrelated doc is novel") {
    import spark.implicits._
    val base = "a b c d e f g h i j"      // 8 shingles
    val vary = "a b c d e f g h i k"      // shares 7 of 9 union → 0.7778
    val rows = Seq(
      (0L, base),                          // corpus
      (1L, base),                          // corpus exact dup → collapsed
      (2L, vary),                          // corpus
      (10L, base),                         // batch: exact copy of 0
      (11L, vary),                         // batch: exact copy of 2
      (12L, "z y x w v u t s r q"))        // batch: unrelated → novel
      .toDF("doc_id", "text")
    val got = graft.ops.FuzzyDedup.minhashDelta(rows, split = 10L)
      .collect()
      .map(r => (r.getLong(0),
        Option(r.getAs[java.lang.Long]("near_dup_of")).map(_.toLong),
        Option(r.getAs[java.lang.Double]("jaccard")).map(_.toDouble),
        r.getAs[String]("verdict"))).toList
    // doc 10 shares ALL bands with rep 0 (identical text), so the index
    // must return 0 (never the collapsed dup 1) at jaccard 1.0; doc 11
    // likewise matches 2 even though it also near-matches 0 — the best
    // (highest-jaccard) candidate wins
    assert(got == List(
      (10L, Some(0L), Some(1.0), "near_dup"),
      (11L, Some(2L), Some(1.0), "near_dup"),
      (12L, None, None, "novel")), s"got $got")
  }

  test("d221 index nightly: a night-2 doc matches a night-1 NOVEL " +
      "arrival through the updated index, and near-dups never index") {
    import spark.implicits._
    val base = "a b c d e f g h i j"   // corpus text
    val vary = "a b c d e f g h i k"   // jaccard 0.7778 vs base
    val novo = "z y x w v u t s r q"   // unrelated
    val rows = Seq(
      (0L, base),   // corpus
      (10L, novo),  // night 1: novel → ENTERS the index
      (11L, vary),  // night 1: near-dup of 0 → never indexed
      (20L, novo),  // night 2: exact copy of 10 → must match the
                    //   night-1 arrival (proves the UPDATED index was
                    //   read, not night 0's artifact)
      (22L, vary),  // night 2: exact copy of 11's text — best would be
                    //   11 @ 1.0 IF near-dups leaked into the index;
                    //   must instead match corpus 0 @ 0.7778
      (23L, "p o n m l k j i h gg"))  // night 2: novel
      .toDF("doc_id", "text")
    val got = graft.ops.FuzzyDedup
      .indexNightly(spark, rows, split1 = 10L, split2 = 20L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Long]("near_dup_of")).map(_.toLong),
        Option(r.getAs[java.lang.Double]("jaccard")).map(_.toDouble),
        r.getAs[String]("verdict"))).toList
    assert(got == List(
      (10L, 1L, None, None, "novel"),
      (11L, 1L, Some(0L), Some(0.7778), "near_dup"),
      (20L, 2L, Some(10L), Some(1.0), "near_dup"),
      (22L, 2L, Some(0L), Some(0.7778), "near_dup"),
      (23L, 2L, None, None, "novel")), s"got $got")
  }

  test("q49 null-safe join: the two NULL buckets pair as ONE row; " +
      "one-sided buckets null-pad") {
    import spark.implicits._
    val dir = tmp()
    // customers: nationkey 3 → NULL bucket (3 % 7 == 3), 1 → bucket 1
    Seq(3L, 10L, 1L).toDF("c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // suppliers: nationkey 4 → NULL bucket (4 % 9 == 4), 1 → bucket 1,
    // 8 → bucket 8 (unreachable by customer mod 7)
    Seq(4L, 1L, 8L).toDF("s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val got = Queries.q49NullSafeJoin(spark, dir).collect()
      .map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("n_cust")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("n_supp")).map(_.toLong))).toList
    assert(got == List(
      (None, Some(2L), Some(1L)), // NULL <=> NULL: ONE matched row
      (Some(1L), Some(1L), Some(1L)),
      (Some(8L), None, Some(1L))), s"got $got")
  }

  test("q50 recursive spine: gap months surface as zero rows and the " +
      "running total is flat across them") {
    import spark.implicits._
    val dir = tmp()
    // whale orders (> 490000) in Jan and Apr 2020 only; Feb/Mar have
    // sub-threshold orders — the spine must still emit them, with zero
    // whales and the January cumulative carried flat
    Seq(
      (1L, 1L, "F", 495000.0, "2020-01-10 00:00:00", "P1"),
      (2L, 1L, "F", 491000.0, "2020-01-20 00:00:00", "P1"),
      (3L, 1L, "F", 100.0, "2020-02-05 00:00:00", "P1"),
      (4L, 1L, "F", 100.0, "2020-03-05 00:00:00", "P1"),
      (5L, 1L, "F", 499000.0, "2020-04-05 00:00:00", "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "ts", "o_orderpriority")
      .withColumn("o_orderdate", col("ts").cast("timestamp")).drop("ts")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // SqlSurface registers ALL tables for the dir — provide the rest
    // as empty copies of the sf0.001 fixtures' schemas
    val src = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "supplier", "part", "lineitem",
      "events", "documents", "embeddings").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val got = Queries.q50RecursiveSpine(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    assert(got == List(
      ("2020-01-01", 2L, 98600000L, 98600000L),
      ("2020-02-01", 0L, 0L, 98600000L),
      ("2020-03-01", 0L, 0L, 98600000L),
      ("2020-04-01", 1L, 49900000L, 148500000L)), s"got $got")
  }

  test("q41 ordered-set: percentile_disc is the rank-ceil(p*n) element " +
      "and mode ties resolve to the smallest value in BOTH engines' " +
      "conventions") {
    import spark.implicits._
    val dir = tmp()
    // cents {10,20,30,40}: p25 -> rank 1 (10), p50 -> rank 2 (20),
    // p75 -> rank 3 (30); statuses F,F,O,O tie -> deterministic 'F'
    Seq((1L, "P1", "F", 0.10), (2L, "P1", "F", 0.20),
      (3L, "P1", "O", 0.30), (4L, "P1", "O", 0.40))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Queries.q41OrderedSet(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toList
    assert(got == List(("P1", 10L, 20L, 30L, "F", 4L)), s"got $got")
  }

  // -------------------------------------------------------------- q42
  test("q42 windowed distinct: a returning user never recounts; " +
      "repeat events inflate n_events only") {
    val dir = tmp()
    plantEvents(dir, Seq(
      (1L, T0, 1L, "a", 0.0), (2L, T0 + 1, 2L, "a", 0.0),
      (3L, T0 + 2, 1L, "a", 0.0), // user 1 again, same day
      (4L, T0 + D, 2L, "a", 0.0), // returning user: not recounted
      (5L, T0 + D + 1, 3L, "a", 0.0))) // new user on day 1
    val d0 = T0 / D
    val got = Queries.q42WindowDistinct(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(("a", d0, 3L, 2L), ("a", d0 + 1, 2L, 3L)),
      s"got $got")
  }

  // -------------------------------------------------------------- q44
  test("q44 locf: carries across a gap, leaves the leading region " +
      "null, restarts from each observation") {
    val dir = tmp()
    // qualifying = cents % 97 < 5: 1 and 2 and 3 qualify, 10 does not
    plantEvents(dir, Seq(
      (1L, T0, 1L, "x", 0.01), // x day0 observed: 1
      (2L, T0 + D, 1L, "x", 0.10), // x day1: no qualifying -> gap
      (3L, T0 + 2 * D, 1L, "x", 0.02), // x day2 observed: 2
      (4L, T0, 1L, "y", 0.10), // y day0: gap (LEADING -> null fill)
      (5L, T0 + D, 1L, "y", 0.03), // y day1 observed: 3
      (6L, T0 + 2 * D, 1L, "y", 0.10))) // y day2: gap -> carries 3
    val d0 = T0 / D
    def l(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val got = Queries.q44Locf(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), l(r, 2), l(r, 3),
        r.getBoolean(4))).toList
    assert(got == List(
      ("x", d0, Some(1L), Some(1L), false),
      ("x", d0 + 1, None, Some(1L), true),
      ("x", d0 + 2, Some(2L), Some(2L), false),
      ("y", d0, None, None, true),
      ("y", d0 + 1, Some(3L), Some(3L), false),
      ("y", d0 + 2, None, Some(3L), true)), s"got $got")
  }

  private def plantOrders(dir: String, rows: Seq[(Long, String, Double)])
      : Unit = {
    import spark.implicits._
    rows.toDF("o_orderkey", "d", "o_totalprice")
      .select(col("o_orderkey"),
        to_timestamp(col("d")).as("o_orderdate"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  // ------------------------------------------------------------- q47
  test("q47 iso weeks: year-boundary days belong to the neighboring " +
      "ISO year; 1998 has a week 53; derived week equals Spark's " +
      "built-in weekofyear over 8 consecutive years") {
    val dir = tmp()
    plantOrders(dir, Seq(
      (1L, "1995-01-01", 1.0), // Sunday -> 1994-W52
      (2L, "1996-01-01", 1.0), // Monday -> 1996-W01
      (3L, "1998-12-31", 1.0), // Thursday -> 1998-W53
      (4L, "1999-01-01", 1.0), // Friday -> still 1998-W53
      (5L, "2000-01-02", 1.0), // Sunday -> 1999-W52
      (6L, "1997-12-29", 1.0))) // Monday -> 1998-W01
    val got = Queries.q47IsoWeeks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toString,
        r.getLong(3))).toList
    assert(got == List(
      (1994L, 52L, "1994-12-26", 1L),
      (1996L, 1L, "1996-01-01", 1L),
      (1998L, 1L, "1997-12-29", 1L), // its Thursday is 1998-01-01
      (1998L, 53L, "1998-12-28", 2L), // Dec 31 + Jan 1 share W53
      (1999L, 52L, "1999-12-27", 1L)), s"got $got")
    // Cross-check the Thursday rule against Spark's own ISO weekofyear
    // on every day of 1995-2002 (two leap years, a 53-week year).
    import spark.implicits._
    val days = spark.range(0, 365 * 8 + 2)
      .select(date_add(lit("1995-01-01").cast("date"),
        col("id").cast("int")).as("d"))
    val epoch = datediff(col("d"), lit("1970-01-01").cast("date"))
    val thu = date_add(col("d"), lit(3) - ((epoch + lit(3)) % 7))
    val mismatches = days
      .select((floor((dayofyear(thu) - 1) / 7) + 1).as("derived"),
        weekofyear(col("d")).cast("long").as("builtin"))
      .filter(col("derived") =!= col("builtin")).count()
    assert(mismatches == 0, s"$mismatches days disagree with weekofyear")
  }

  // ------------------------------------------------------------- q48
  test("q48 billing periods: month-end clamping — Feb-27 stays in the " +
      "Jan period, Feb-28 opens a 31-day one, and leap February gets " +
      "a 29-day period starting Feb-29") {
    val dir = tmp()
    plantOrders(dir, Seq(
      (1L, "1995-01-31", 1.0), // anchor day itself -> period 0
      (2L, "1995-02-27", 1.0), // before clamped Feb-28 start -> period 0
      (3L, "1995-02-28", 1.0), // period 1 opens on the clamp day
      (4L, "1995-03-30", 1.0), // before the Mar-31 start -> period 1
      (5L, "1995-03-31", 1.0), // period 2
      (6L, "1996-02-28", 1.0), // leap year: period 13 starts Feb-29,
      (7L, "1996-02-29", 1.0), //   so the 28th is still period 12
      (8L, "1995-01-30", 1.0))) // pre-anchor -> filtered out entirely
    val got = Queries.q48BillingPeriods(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3))).toList
    assert(got == List(
      (0L, "1995-01-31", 28L, 2L),
      (1L, "1995-02-28", 31L, 2L),
      (2L, "1995-03-31", 30L, 1L),
      (12L, "1996-01-31", 29L, 1L), // leap February: 29-day period
      (13L, "1996-02-29", 31L, 1L)), s"got $got")
  }
}
