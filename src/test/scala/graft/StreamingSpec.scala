package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** Streaming queries must agree with their batch counterparts on the
  * same data: hourly windowed agg vs q17, stateful sessionization vs
  * q18, both run to completion with Trigger.AvailableNow. */
class StreamingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** File-stream sources need a directory; stage the events parquet
    * into a temp dir. */
  private def stageEventsDir(): String = {
    val dir = SparkSpec.tempDir("graft-stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming hourly counts equal batch q17") {
    val dir = stageEventsDir()
    val q = EventStreams.hourlyCounts(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_stream")
      .orderBy("hour", "event_type").collect()
    val batch = Queries.q17EventsHourly(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("hour") == b.getAs[java.sql.Timestamp]("hour"))
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(math.abs(s.getAs[Double]("total_value") - b.getAs[Double]("total_value")) < 1e-6)
    }
  }

  test("foreachBatch upsert: two-phase deltas merge to the batch " +
      "aggregate and survive a replayed batch") {
    // the d170 gate machinery end-to-end on the sf fixture: the final
    // frame must equal the one-shot batch aggregate (cross-batch merge
    // + idempotent replay both exercised inside the op, which REQUIRES
    // replay-invariance in-op)
    val got = graft.streaming.StreamGates
      .d170StreamUpsert(spark, sfDir).collect()
    val want = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(round(col("value") * 100).cast("long"))
          .cast("double") / 100, 2).as("total_value"))
      .orderBy("user_id").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[Long]("user_id") == w.getAs[Long]("user_id"))
      assert(g.getAs[Long]("n_purchases") == w.getAs[Long]("n_purchases"))
      assert(g.getAs[Double]("total_value") == w.getAs[Double]("total_value"))
    }
  }

  /** Plant a 6-column event log as a bare part-FILE (the file-stream
    * source lists files; a Spark-written directory would stream empty).
    * `ts` is stored as a raw int64 of NANOS — the physical layout
    * `readEvents`' schema declaration and unit probe expect (a real
    * TimestampType would be written INT96 and fail the declared-long
    * read). */
  private def plantLog(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-stream-plant")
    val tmp = SparkSpec.tempDir("graft-stream-plant-w")
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit(null).cast("string").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = Option(tmp.resolve("out").toFile.list()).get
      .find(_.endsWith(".parquet")).get
    Files.copy(tmp.resolve("out").resolve(part),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private val T0 = 1700006400000000L // midnight UTC, µs
  private def min(m: Long) = m * 60000000L

  test("d179 outer join: unmatched purchases null-pad, interval " +
      "bounds are [p-30min, p) inclusive-exclusive") {
    // u1: view 10min before purchase -> pair; u2: no view -> NULL;
    // u3: view 45min before -> outside window -> NULL;
    // u4: view EXACTLY 30min before -> inclusive lower bound -> pair;
    // u5: view at the purchase instant -> exclusive upper -> NULL
    val dir = plantLog(Seq(
      (10L, T0, 1L, "view", 0.0), (11L, T0 + min(10), 1L, "purchase", 1.0),
      (20L, T0 + min(10), 2L, "purchase", 1.0),
      (30L, T0, 3L, "view", 0.0), (31L, T0 + min(45), 3L, "purchase", 1.0),
      (40L, T0, 4L, "view", 0.0), (41L, T0 + min(30), 4L, "purchase", 1.0),
      (50L, T0, 5L, "view", 0.0), (51L, T0, 5L, "purchase", 1.0)))
    val got = graft.streaming.StreamGates
      .d179StreamOuterJoin(spark, dir).collect().map(r =>
        (r.getAs[Long]("p_id"),
          Option(r.getAs[java.lang.Long]("view_id")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("gap_us")).map(_.toLong))).toList
    assert(got == List(
      (11L, Some(10L), Some(min(10))), (20L, None, None),
      (31L, None, None), (41L, Some(40L), Some(min(30))),
      (51L, None, None)), s"got $got")
  }

  test("d180 session windows: boundary event EXTENDS (inclusive " +
      "merge), one past it breaks; ends last-event-plus-gap, cents " +
      "exact") {
    // u1: events at 0/10/20min, then one at exactly 50min = 20min +
    // the 30min gap -> Spark's inclusive merge (newStart <= end)
    // EXTENDS the session to [0, 80min); then 80min + 30min + 1µs
    // breaks -> second session. u2: a lone event.
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 1.25), (2L, T0 + min(10), 1L, "view", 2.00),
      (3L, T0 + min(20), 1L, "view", 0.75),
      (4L, T0 + min(50), 1L, "view", 10.00),
      (5L, T0 + min(80) + 1L, 1L, "view", 0.50),
      (6L, T0, 2L, "click", 5.50)))
    val got = graft.streaming.StreamGates
      .d180SessionWindows(spark, dir).collect().map(r =>
        (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("s_start").getTime,
          r.getAs[java.sql.Timestamp]("s_end").getTime,
          r.getAs[Long]("n_events"), r.getAs[Long]("cents"))).toList
    def ms(us: Long) = us / 1000
    assert(got == List(
      (1L, ms(T0), ms(T0 + min(80)), 4L, 1400L),
      (1L, ms(T0 + min(80)), ms(T0 + min(110)), 1L, 50L),
      (2L, ms(T0), ms(T0 + min(30)), 1L, 550L)), s"got $got")
  }

  test("d204 transformWithState sessionizer equals the mapGroupsWithState " +
      "fold on a boundary-heavy planted log") {
    // 30-min gap boundary cases: u1 has gaps of exactly 30 min (same
    // session — strictly-greater breaks) and 30 min + 1 µs (new
    // session); u2 one event
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0),
      (2L, T0 + min(30), 1L, "view", 0.0), // exactly the gap: SAME session
      (3L, T0 + min(60) + 1, 1L, "view", 0.0), // gap 30min+1µs: NEW session
      (4L, T0, 2L, "view", 0.0)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val legacy = rows(graft.streaming.StreamGates.d64StreamSessions(spark, dir))
    val tws = rows(graft.streaming.StreamGates.d204TwsSessions(spark, dir))
    assert(legacy == List((1L, 2L, 3L), (2L, 1L, 1L)), s"legacy $legacy")
    assert(tws == legacy, s"tws $tws != legacy $legacy")
  }

  test("d211 tws timers: gap boundaries finalize like the batch " +
      "definition, exactly once") {
    // 30-min gap boundary: events 30 min apart share a session
    // (strictly-greater breaks); 30 min + 1 µs starts a new one. The
    // sentinel-flushed drain must emit each finalized session exactly
    // once with its true extent.
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0),
      (2L, T0 + min(30), 1L, "view", 0.0), // exactly the gap: SAME session
      (3L, T0 + min(60) + 1, 1L, "view", 0.0), // 30min+1µs: NEW session
      (4L, T0, 2L, "view", 0.0)))
    val got = graft.streaming.StreamGates.d211TwsTimers(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (1L, T0, T0 + min(30), 2L),
      (1L, T0 + min(60) + 1, T0 + min(60) + 1, 1L),
      (2L, T0, T0, 1L)), s"got $got")
  }

  test("d211 tws timers: out-of-order arrival across batches lands in " +
      "the right sessions") {
    // the closedSessions out-of-order fixture on the tws processor:
    // user 100's later event ARRIVES first; the earlier one follows in
    // the next micro-batch (within the 1-hour watermark); a third
    // batch's far-future sentinel closes both. The ListState buffer
    // must produce TWO single-event sessions, not an arrival-order
    // miscount.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = 1000000000000000L // micros
    val mn = 60L * 1000 * 1000
    def ev(id: Long, tsUs: Long, user: Long) =
      (id, tsUs, user, "click", 1.0, "{}")
    val staged = SparkSpec.tempDir("graft-tws-ooo-in")
    Seq(
      Seq(ev(1, base + 60 * mn, 100L)),
      Seq(ev(2, base + 20 * mn, 100L)),
      Seq(ev(3, base + 720 * mn, 999L))
    ).zipWithIndex.foreach { case (rows, i) =>
      val tmp = SparkSpec.tempDir(s"graft-tws-ooo-$i")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"b$i.parquet")
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(1000000L + i * 60000L)
    }
    val got = graft.streaming.StreamGates.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val stream = spark.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .withColumn("ts", timestamp_micros(col("ts")))
      val q = EventStreams.closedSessionsTws(stream)
        .writeStream.format("memory").queryName("tws_ooo")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.table("tws_ooo")
        .filter(col("user_id") === 100)
        .orderBy("start_us").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    assert(got == Seq(
      (base + 20 * mn, base + 20 * mn, 1L),
      (base + 60 * mn, base + 60 * mn, 1L)),
      s"expected two single-event sessions, got $got")
  }

  test("d211 tws timers: an older session emits at ITS close, not the " +
      "newest's") {
    // user 1: session A (0, 10min) then open session B at 5h; batch 2
    // advances the watermark past A's close but NOT B's. A timer aimed
    // at the NEWEST session's close would leave A buffered; the
    // re-aimed earliest-close timer must emit A now.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mn = 60L * 1000 * 1000
    val hour = 60 * mn
    def stage(rows: Seq[(Long, Long, Long, String, Double, String)],
        dir: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val tmp = SparkSpec.tempDir(s"graft-tws-old-$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(name)
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(mtime)
    }
    val staged = SparkSpec.tempDir("graft-tws-oldsession-in")
    val base = 2000000000000000L
    stage(Seq(
      (1L, base, 1L, "click", 0.0, "{}"),
      (2L, base + 10 * mn, 1L, "click", 0.0, "{}"),
      (3L, base + 5 * hour, 1L, "click", 0.0, "{}")),
      staged, "b1.parquet", 1000000L)
    stage(Seq((9L, base + 5 * hour + 10 * mn, 2L, "click", 0.0, "{}")),
      staged, "b2.parquet", 1060000L)
    val rows = graft.streaming.StreamGates.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val stream = spark.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .withColumn("ts", timestamp_micros(col("ts")))
      val q = EventStreams.closedSessionsTws(stream)
        .writeStream.format("memory").queryName("tws_oldest")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.table("tws_oldest").filter(col("user_id") === 1L).collect()
    }
    assert(rows.length == 1,
      s"exactly session A must have closed, got ${rows.length}")
    assert(rows.head.getAs[Long]("n_events") == 2L,
      "the closed session must be the two-event session A")
  }

  test("d225 state reader: duplicate content holds ONE state key — the " +
      "offline read sees the dedup store, not the input") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-d225-spec")
    Seq((0L, "alpha text"), (1L, "alpha text"), (2L, "beta text"),
      (3L, "alpha text"), (4L, "gamma text"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("w").toString)
    val part = Files.list(dir.resolve("w")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), dir.resolve("documents.parquet"))
    val got = graft.streaming.StreamGates
      .d225StateReader(spark, dir.toString)
      .collect().map(_.getString(0)).toList
    // 5 input rows, 3 distinct contents → exactly 3 held keys, equal to
    // the md5 set
    val want = Seq("alpha text", "beta text", "gamma text")
      .map(t => java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sorted.toList
    assert(got == want, s"got $got want $want")
  }

  test("d222 tws bootstrap: a session open at the cutover continues, " +
      "history-only users emit nothing, a post-cut gap still splits") {
    // log span 0..35 min → the midpoint cut sits at 17.5 min.
    // u1: history {0,10}, live {20,28} — all gaps ≤ 30 min, so ONE
    //     session of 4 events IF the carried lastTsUs crosses the cut
    //     (a restart would report 1 session / 2 events);
    // u2: history only → no live input → must not appear at all;
    // u3: history {3}, live {27} — 24-min gap continues: 1 session,
    //     2 events (a dropped bootstrap would say 1 event);
    // u4: history {4}, live {35} — 31-min gap: the bootstrap must
    //     still OPEN a second session (2 sessions, 2 events).
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0),
      (2L, T0 + min(10), 1L, "view", 0.0),
      (3L, T0 + min(20), 1L, "view", 0.0),
      (4L, T0 + min(28), 1L, "view", 0.0),
      (5L, T0 + min(1), 2L, "view", 0.0),
      (6L, T0 + min(2), 2L, "view", 0.0),
      (7L, T0 + min(3), 3L, "view", 0.0),
      (8L, T0 + min(27), 3L, "view", 0.0),
      (9L, T0 + min(4), 4L, "view", 0.0),
      (10L, T0 + min(35), 4L, "view", 0.0)))
    val got = graft.streaming.StreamGates.d222TwsBootstrap(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 1L, 4L), (3L, 1L, 2L), (4L, 2L, 2L)),
      s"got $got")
  }

  test("d220 map bursts: interleaved types never bleed — each map " +
      "entry sessionizes alone, gap boundaries per the batch definition") {
    // user 1 alternates view/click INSIDE each other's gap windows: one
    // shared-state sessionizer would see a single unbroken run, but the
    // per-type map entries must each split on THEIR OWN 30-min gaps.
    // view: t0, t0+30 (same burst: exactly the gap), t0+61 (new burst);
    // click: t0+10, t0+45 (35 min apart: two single-event bursts).
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0),
      (2L, T0 + min(10), 1L, "click", 0.0),
      (3L, T0 + min(30), 1L, "view", 0.0),
      (4L, T0 + min(45), 1L, "click", 0.0),
      (5L, T0 + min(61), 1L, "view", 0.0),
      (6L, T0, 2L, "view", 0.0)))
    val got = graft.streaming.StreamGates.d220TwsMapBursts(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toList
    assert(got == List(
      (1L, "click", T0 + min(10), T0 + min(10), 1L),
      (1L, "click", T0 + min(45), T0 + min(45), 1L),
      (1L, "view", T0, T0 + min(30), 2L),
      (1L, "view", T0 + min(61), T0 + min(61), 1L),
      (2L, "view", T0, T0, 1L)), s"got $got")
  }

  test("d220 map bursts: a closed type's entry emits at ITS close and " +
      "leaves the map while a sibling type stays open") {
    // user 1: type A (click) bursts at [0, 10min]; type B (scroll) opens
    // at 5h. Batch 2 advances the watermark past A's close but NOT B's.
    // The user's single timer must be aimed at the EARLIEST close across
    // the MAP ENTRIES — a timer aimed at the newest entry's close would
    // leave A buffered until B ever closes (it never does here).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mn = 60L * 1000 * 1000
    val hour = 60 * mn
    def stage(rows: Seq[(Long, Long, Long, String, Double, String)],
        dir: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val tmp = SparkSpec.tempDir(s"graft-d220-$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(name)
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(mtime)
    }
    val staged = SparkSpec.tempDir("graft-d220-oldentry-in")
    val base = 2000000000000000L
    stage(Seq(
      (1L, base, 1L, "click", 0.0, "{}"),
      (2L, base + 10 * mn, 1L, "click", 0.0, "{}"),
      (3L, base + 5 * hour, 1L, "scroll", 0.0, "{}")),
      staged, "b1.parquet", 1000000L)
    stage(Seq((9L, base + 5 * hour + 10 * mn, 2L, "click", 0.0, "{}")),
      staged, "b2.parquet", 1060000L)
    val rows = graft.streaming.StreamGates.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val stream = spark.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .withColumn("ts", timestamp_micros(col("ts")))
      val q = EventStreams.typeBurstsTws(stream)
        .writeStream.format("memory").queryName("d220_oldentry")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.table("d220_oldentry").filter(col("user_id") === 1L).collect()
    }
    assert(rows.length == 1,
      s"exactly type A's burst must have closed, got ${rows.length}")
    assert(rows.head.getAs[String]("event_type") == "click" &&
        rows.head.getAs[Long]("n_events") == 2L,
      "the closed burst must be the two-event click burst")
  }

  test("d218 union watermarks: the sentinel pin is discriminative — a " +
      "max-aligned watermark emits the early sentinel's window and " +
      "trips it") {
    // same gate, alignment policy flipped to max: source B's 7h-late
    // sentinel now drives the global watermark past source A's
    // sentinel window, which emits — the in-op require must fail
    // loudly instead of handing the oracle a spurious row
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamGates.withConf(spark,
        "spark.sql.streaming.multipleWatermarkPolicy", "max") {
        graft.streaming.StreamGates.d218UnionWatermarks(spark, sfDir)
      }
    }
    assert(e.getMessage.contains("watermark alignment"),
      s"unexpected failure: ${e.getMessage}")
  }

  test("d212 semi join: multiple qualifying views emit the purchase " +
      "exactly once; the interval bounds are strict-below, closed-above") {
    // p1 has TWO views in-window (must emit ONCE); p2's only view is
    // simultaneous (strict < : no match); p3's view sits exactly 30 min
    // before (>= boundary: match); p4 has no view at all.
    val dir = plantLog(Seq(
      (1L, T0 + min(40), 10L, "purchase", 1.0),
      (2L, T0 + min(20), 10L, "view", 0.0),
      (3L, T0 + min(30), 10L, "view", 0.0),
      (4L, T0 + min(40), 11L, "purchase", 1.0),
      (5L, T0 + min(40), 11L, "view", 0.0),
      (6L, T0 + min(40), 12L, "purchase", 1.0),
      (7L, T0 + min(10), 12L, "view", 0.0),
      (8L, T0 + min(40), 13L, "purchase", 1.0)))
    val got = graft.streaming.StreamGates.d212StreamSemiJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 10L), (6L, 12L)), s"got $got")
  }

  test("d205 sliding windows: a boundary event lands in exactly four " +
      "windows with 15-minute-aligned starts") {
    // one event exactly on a slide boundary; sliding 1h/15m windows
    // with starts t, t-15m, t-30m, t-45m must each count it once
    val dir = plantLog(Seq((1L, T0, 1L, "view", 1.0)))
    val got = graft.streaming.StreamGates.d205SlidingWindows(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toList
    val want = (0 to 3).map(k => (T0 - min(15) * k, "view", 1L))
      .sortBy(_._1).toList
    assert(got == want, s"got $got want $want")
  }

  test("rocksdb state store: provider swap preserves the dedup-expiry " +
      "result, and the in-op pin's fingerprint is discriminative") {
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0), (2L, T0 + min(5), 2L, "view", 0.0),
      (3L, T0 + min(9), 3L, "view", 0.0)))
    // result parity: the three-phase expiry gate emits the identical
    // rows on both providers (d197's own body asserts the RocksDB
    // fingerprint in-op, so a green run here IS the provider proof)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val dflt = rows(graft.streaming.StreamGates
      .d187StreamDedupExpiry(spark, dir))
    val rocks = rows(graft.streaming.StreamGates
      .d197RocksdbDedupExpiry(spark, dir))
    assert(dflt.nonEmpty && dflt == rocks, s"default $dflt vs rocksdb $rocks")
    // the pin is only a pin if the DEFAULT provider never emits a
    // rocksdb* custom metric — otherwise it would pass vacuously on a
    // silent fallback to the in-memory provider
    import scala.jdk.CollectionConverters._
    val name = s"graft_rocksdb_probe_${System.nanoTime()}"
    val q = graft.streaming.EventStreams.readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id")
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val metricKeys = (q.recentProgress.toSeq ++ Option(q.lastProgress))
      .flatMap(_.stateOperators).flatMap(_.customMetrics.keySet().asScala)
    assert(metricKeys.nonEmpty &&
      !metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"default-provider drain leaked rocksdb metrics: $metricKeys")
  }

  test("changelog checkpointing: delta files appear ONLY when enabled, " +
      "and a checkpoint started without it migrates cleanly onto it") {
    import graft.streaming.StreamGates.{withConf, ChangelogKey}
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 1.0), (2L, T0 + min(5), 2L, "view", 2.0),
      (3L, T0 + min(9), 3L, "click", 3.0)))
    // second hour, planted as a SECOND part-file mid-test (phase 2)
    def plantSecond(): Unit = {
      import spark.implicits._
      val tmp = SparkSpec.tempDir("graft-chlog-w")
      Seq((4L, T0 + min(65), 1L, "view", 4.0),
        (5L, T0 + min(70), 2L, "click", 5.0))
        .toDF("event_id", "us", "user_id", "event_type", "value")
        .select(col("event_id"), (col("us") * 1000L).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
      val part = Option(tmp.resolve("out").toFile.list()).get
        .find(_.endsWith(".parquet")).get
      Files.copy(tmp.resolve("out").resolve(part),
        Paths.get(dir).resolve("events2.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val ckpt = SparkSpec.tempDir("graft-chlog-ckpt")
    def changelogFiles(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(ckpt)
      try w.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".changelog")).toList
      finally w.close()
    }
    val rdb = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    def drain(): String = {
      val name = s"graft_chlog_${System.nanoTime()}"
      val q = EventStreams.hourlyCounts(
          EventStreams.readEvents(spark, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(); name
    }
    withConf(spark, "spark.sql.streaming.stateStore.providerClass", rdb) {
      // phase 1: changelog DISABLED — the pin's discriminativeness:
      // a plain RocksDB drain must leave ZERO .changelog files, else
      // d207/d208's in-op assert would pass on a conf typo
      drain()
      assert(changelogFiles().isEmpty,
        s"changelog files without the flag: ${changelogFiles()}")
      // phase 2: ENABLE the flag on the SAME checkpoint (the
      // documented production migration path) and resume with new data
      plantSecond()
      val name2 = withConf(spark, ChangelogKey, "true")(drain())
      assert(changelogFiles().nonEmpty,
        "no .changelog files after enabling changelog checkpointing")
      // the migrated run's output = the batch rollup over BOTH files:
      // hour 0 carries phase-1 state REPLAYED into the new format
      val got = spark.table(name2)
        .collect().map(r => (r.getTimestamp(0).getTime * 1000L,
          r.getString(1), r.getLong(2), r.getDouble(3))).toList.sorted
      val want = List(
        (T0, "click", 1L, 3.0), (T0, "view", 2L, 3.0),
        (T0 + min(60), "click", 1L, 5.0),
        (T0 + min(60), "view", 1L, 4.0))
      assert(got == want, s"got $got want $want")
    }
  }

  test("checkpoint recovery: a resumed query reloads state and reads " +
      "ONLY the new file") {
    // The d127 gate proves output equality end-to-end; this pins the
    // mechanism on a planted log — the resumed run's processed-row
    // count is exactly the second file, so the correct totals can only
    // come from the recovered state store.
    val staged = SparkSpec.tempDir("graft-recovery-src")
    val ckpt = SparkSpec.tempDir("graft-recovery-ckpt")
    val full = spark.read.parquet(s"$sfDir/events.parquet")
    val nOdd = full.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 1).count()
    def drop(parity: Int, name: String): Unit = {
      val tmp = SparkSpec.tempDir("graft-recovery-w")
      full.filter(org.apache.spark.sql.functions.col("event_id") % 2 === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
      val part = Files.list(tmp.resolve("o"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, staged.resolve(name))
    }
    def run(name: String) = {
      val q = EventStreams.hourlyCounts(
          EventStreams.readEvents(spark, staged.toString))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q
    }
    drop(0, "a.parquet")
    run("recovery_phase1")
    drop(1, "b.parquet")
    val q2 = run("recovery_phase2")
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == nOdd,
      s"resumed run must read only the new file: read $resumedRows, " +
        s"second file has $nOdd")
    val streamed = spark.table("recovery_phase2")
      .orderBy("hour", "event_type").collect()
    val batch = Queries.q17EventsHourly(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("hour") == b.getAs[java.sql.Timestamp]("hour"))
      assert(s.getAs[String]("event_type") == b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") == b.getAs[Long]("n"),
        s"window (${s.get(0)}, ${s.get(1)}): recovered count ${s.get(2)} != batch ${b.get(2)}")
      assert(math.abs(s.getAs[Double]("total_value") - b.getAs[Double]("total_value")) < 1e-6)
    }
  }

  test("watermark late drops: a straggler behind the recovered " +
      "watermark is dropped, one inside the horizon is merged") {
    // The d145 gate proves output equality on the sf log; this pins the
    // MECHANISM on a planted two-phase log: after phase 1 the committed
    // watermark is max(on-time) - 30 min = 02:40; a phase-2 straggler
    // for window [00:00,01:00) (end <= W) must be DROPPED, one for
    // [02:00,03:00) (end 03:00 > W) must be MERGED into the count.
    val staged = SparkSpec.tempDir("graft-late-src")
    val ckpt = SparkSpec.tempDir("graft-late-ckpt")
    import org.apache.spark.sql.functions._
    val t0 = 1704067200L * 1000000 // 2024-01-01T00:00Z
    def us(h: Long, m: Long, s: Long) = t0 + (h * 3600 + m * 60 + s) * 1000000L
    def write(rows: Seq[(Long, Long)], name: String): Unit = {
      import spark.implicits._
      val tmp = SparkSpec.tempDir("graft-late-w")
      rows.toDF("event_id", "us")
        .select(col("event_id"),
          // NTZ writes INT64 micros — the encoding readEvents probes as
          // the MICROS generation
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          lit(7L).as("user_id"), lit("view").as("event_type"),
          lit(1.5).as("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
      val part = Files.list(tmp.resolve("o"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, staged.resolve(name))
    }
    val out = SparkSpec.tempDir("graft-late-out")
    def run() = {
      val q = EventStreams.hourlyCounts(
          EventStreams.readEvents(spark, staged.toString),
          delay = "30 minutes")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q
    }
    // phase 1 (on-time): one event in each of H0..H3; W1 = 03:10-0:30
    write(Seq((1L, us(0, 10, 7)), (2L, us(1, 10, 7)),
      (3L, us(2, 10, 7)), (4L, us(3, 10, 7))), "a.parquet")
    run()
    // phase 2: H0 straggler (dropped), H2 straggler (kept), sentinel
    // at 06:40 finalizing every real window but not its own
    write(Seq((5L, us(0, 20, 7)), (6L, us(2, 20, 7)),
      (-1L, us(6, 40, 7))), "b.parquet")
    val q2 = run()
    val dropped = q2.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped == 1L,
      s"exactly the H0 straggler must be dropped, got $dropped")
    val got = spark.read.parquet(out.toString)
      .orderBy("hour").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour").getTime,
        r.getAs[Long]("n"))).toList
    def hourMs(h: Long) = us(h, 0, 0) / 1000
    assert(got == List((hourMs(0), 1L), (hourMs(1), 1L),
      (hourMs(2), 2L), (hourMs(3), 1L)),
      s"got $got — H2 must count the merged straggler, H0 must not, " +
        "and the sentinel window must never be emitted")
  }

  test("sessionization state carries across micro-batches") {
    // split events at the median ts into two files and force one file
    // per trigger, so users spanning the split exercise the carried
    // GroupState (a single AvailableNow batch would not)
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft-stream-mb")
    val events = Tables.load(spark, sfDir, "events")
    val midTs = events.select(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head().getLong(0)
    // store ts as a micros LONG so the stream schema (long ts) applies
    val asLong = events.withColumn("ts", unix_micros(col("ts")))
    asLong.filter(col("ts") < midTs)
      .coalesce(1).write.parquet(dir.resolve("batch1").toString)
    asLong.filter(col("ts") >= midTs)
      .coalesce(1).write.parquet(dir.resolve("batch2").toString)
    // one parquet file per subdir; stage them in arrival order with
    // distinct mod-times so the file source triggers batch1 first
    val staged = SparkSpec.tempDir("graft-stream-mb-in")
    Seq("batch1", "batch2").zipWithIndex.foreach { case (b, i) =>
      val src = Files.list(dir.resolve(b)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"$b.parquet")
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(1000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val q = EventStreams.sessionCounts(stream)
      .writeStream.format("memory").queryName("sessions_mb")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val batches = spark.sql(
      "SELECT count(DISTINCT user_id) FROM sessions_mb").head().getLong(0)
    val streamed = spark.table("sessions_mb")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      .orderBy("user_id").collect()
    val batch = Queries.q18Sessionize(spark, sfDir).collect()
    assert(spark.table("sessions_mb").count() > batches,
      "users must be re-emitted across >1 micro-batch for this test to bite")
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getLong(1) == b.getLong(1), s"user ${s.getLong(0)} sessions")
      assert(s.getLong(2) == b.getLong(2), s"user ${s.getLong(0)} events")
    }
  }

  test("closed sessions: out-of-order arrival across batches lands correctly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // user 100 truly has TWO sessions (events 40 min apart), but the
    // later event ARRIVES first; the earlier one follows in the next
    // micro-batch (within the 1-hour watermark). A run-length fold over
    // arrival order (sessionCounts' contract) would see t going
    // backwards and count ONE session; the buffered variant must emit
    // two. A far-future sentinel user advances the watermark so both
    // close.
    val base = 1000000000000000L // micros
    val min = 60L * 1000 * 1000
    def ev(id: Long, tsUs: Long, user: Long) =
      (id, tsUs, user, "click", 1.0, "{}")
    val staged = SparkSpec.tempDir("graft-ooo-in")
    Seq(
      Seq(ev(1, base + 60 * min, 100L)),
      Seq(ev(2, base + 20 * min, 100L)),
      Seq(ev(3, base + 720 * min, 999L))
    ).zipWithIndex.foreach { case (rows, i) =>
      val tmp = SparkSpec.tempDir(s"graft-ooo-$i")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"b$i.parquet")
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(1000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val q = EventStreams.closedSessions(stream)
      .writeStream.format("memory").queryName("closed_ooo")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("closed_ooo")
      .filter(col("user_id") === 100)
      .orderBy("start_us").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (base + 20 * min, base + 20 * min, 1L),
      (base + 60 * min, base + 60 * min, 1L)),
      s"expected two single-event sessions, got ${out.toSeq}")
  }

  test("closed sessions: an older session emits at ITS close, not the newest's") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val min = 60L * 1000 * 1000
    val hour = 60 * min
    // user 1: session A (0, 10min), then session B starting at 5h (open).
    // batch 2's sentinel advances the watermark past A's close but NOT
    // past B's — a timeout keyed to the NEWEST session would sit silent
    // and leave A buffered; keyed to the EARLIEST it must emit A now.
    def stage(rows: Seq[(Long, Long, Long, String, Double, String)],
        dir: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val tmp = SparkSpec.tempDir(s"graft-old-$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(name)
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(mtime)
    }
    val staged = SparkSpec.tempDir("graft-oldsession-in")
    val base = 2000000000000000L // epoch-0 events collide with the initial watermark
    stage(Seq(
      (1L, base, 1L, "click", 0.0, "{}"),
      (2L, base + 10 * min, 1L, "click", 0.0, "{}"),
      (3L, base + 5 * hour, 1L, "click", 0.0, "{}")),
      staged, "b1.parquet", 1000000L)
    stage(Seq((9L, base + 5 * hour + 10 * min, 2L, "click", 0.0, "{}")),
      staged, "b2.parquet", 1060000L)
    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val q = EventStreams.closedSessions(stream)
      .writeStream.format("memory").queryName("closed_oldest")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("closed_oldest")
      .filter(col("user_id") === 1L).collect()
    assert(rows.length == 1,
      s"exactly session A must have closed, got ${rows.length}")
    assert(rows.head.getAs[Long]("n_events") == 2L,
      "the closed session must be the two-event session A")
  }

  test("closed sessions: expiry fires and totals equal batch q18") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val events = Tables.load(spark, sfDir, "events")
    val asLong = events.withColumn("ts", unix_micros(col("ts")))
    val maxTs = asLong.agg(max("ts")).head().getLong(0)
    val staged = SparkSpec.tempDir("graft-closed-in")
    // batch 1: the real corpus; batch 2: one far-future sentinel event
    // whose watermark closes every real session
    val tmp1 = SparkSpec.tempDir("graft-closed-b1")
    asLong.coalesce(1).write.parquet(tmp1.resolve("p").toString)
    val src1 = Files.list(tmp1.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val dst1 = staged.resolve("b1.parquet")
    Files.copy(Paths.get(src1), dst1)
    dst1.toFile.setLastModified(1000000L)
    val tmp2 = SparkSpec.tempDir("graft-closed-b2")
    Seq((-1L, maxTs + 20L * 3600 * 1000 * 1000, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(tmp2.resolve("p").toString)
    val src2 = Files.list(tmp2.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val dst2 = staged.resolve("b2.parquet")
    Files.copy(Paths.get(src2), dst2)
    dst2.toFile.setLastModified(1060000L)

    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val q = EventStreams.closedSessions(stream)
      .writeStream.format("memory").queryName("closed_all")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val closed = spark.table("closed_all").filter(col("user_id") >= 0)
    assert(closed.count() > 0, "event-time expiry must finalize sessions")
    val streamed = closed.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id").collect()
    val batch = Queries.q18Sessionize(spark, sfDir).collect()
    assert(streamed.length == batch.length,
      s"all ${batch.length} users' sessions must close under the sentinel " +
        s"watermark (got ${streamed.length})")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getLong(1) == b.getLong(1), s"user ${s.getLong(0)} sessions")
      assert(s.getLong(2) == b.getLong(2), s"user ${s.getLong(0)} events")
    }
  }

  test("ingest dedup: duplicate content across batches is dropped, first wins") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = 2000000000000000L // micros
    val min = 60L * 1000 * 1000
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ingest_ts", LongType)))
    // batch 1: A, B (same text as A, later), C distinct
    // batch 2: D (same text as A again), E distinct — within the 1 h horizon
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta", base),
        (2L, "alpha beta gamma delta", base + 10 * min),
        (3L, "one two three four", base + 5 * min)),
      Seq((4L, "alpha beta gamma delta", base + 20 * min),
        (5L, "five six seven eight", base + 25 * min)))
    val staged = SparkSpec.tempDir("graft-ingest-in")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = SparkSpec.tempDir(s"graft-ingest-$i")
      rows.toDF("doc_id", "text", "ingest_ts")
        .coalesce(1).write.parquet(tmp.resolve("p").toString)
      val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"b$i.parquet")
      Files.copy(Paths.get(src), dst)
      dst.toFile.setLastModified(1000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("ingest_ts", timestamp_micros(col("ingest_ts")))
    val q = graft.streaming.IngestStreams.ingest(stream)
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("ingest_dedup")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L),
      s"first arrival of each distinct text must survive, got $kept")
  }

  test("split routing at ingest matches the batch d33 assignment, statelessly") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val staged = SparkSpec.tempDir("graft-route-in")
    val tmp = SparkSpec.tempDir("graft-route-w")
    val docs = (0L until 200L).map(i => (i, s"doc number $i body")).toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(tmp.resolve("p").toString)
    val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(src), staged.resolve("b0.parquet"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
    val q = graft.streaming.IngestStreams.routed(stream)
      .writeStream.format("memory").queryName("route_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.lastProgress.stateOperators.isEmpty,
      "split routing must create no streaming state")
    val streamed = spark.table("route_stream")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = docs
      .select($"doc_id",
        graft.ops.CorpusOps.splitOf($"doc_id").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch,
      "stream and batch split assignments must be identical")
    assert(streamed.values.toSet == Set("train", "val", "test"))
  }

  test("streaming decontamination drops eval-overlapping docs statelessly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val bench = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val contaminated = // near-copy of the benchmark doc
      "the quick brown fox jumps over the lazy dog again and again indeed"
    val clean = "completely unrelated words about spark shuffles and parquet"
    val staged = SparkSpec.tempDir("graft-decon-in")
    val tmp = SparkSpec.tempDir("graft-decon-w")
    Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(tmp.resolve("p").toString)
    val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(src), staged.resolve("b0.parquet"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
    val q = graft.streaming.IngestStreams.decontaminated(stream, bench)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("decon").collect()
    val kept = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("overlap")).toMap
    assert(kept.keySet == Set(2L),
      s"the near-copy of the eval doc must be dropped, got $kept")
    assert(kept(2L) < 0.1, "the clean doc's overlap must be ~0")
    // the gate is mid-pipeline: surviving docs keep their columns
    assert(rows.head.getAs[String]("text") == clean,
      "document content must survive the gate")
    // the streaming plan must be stateless — no state-store operator
    val hasState = q.lastProgress.stateOperators.length == 0
    assert(hasState, "decontamination must not create streaming state")
  }

  test("pii redaction is stream-safe and agrees with batch") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val staged = SparkSpec.tempDir("graft-pii-in")
    val tmp = SparkSpec.tempDir("graft-pii-w")
    val docs = Seq(
      (1L, "mail bob@example.com or call 555-123-4567 now"),
      (2L, "ssn 123-45-6789 hidden"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(tmp.resolve("p").toString)
    val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(src), staged.resolve("b0.parquet"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
    val q = stream
      .withColumn("text", graft.ops.CorpusOps.piiRedact($"text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.lastProgress.stateOperators.isEmpty,
      "redaction must create no streaming state")
    val streamed = spark.table("pii_stream")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = docs
      .withColumn("text", graft.ops.CorpusOps.piiRedact($"text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
    assert(streamed(1L).contains("[EMAIL]") && streamed(1L).contains("[PHONE]"))
    assert(streamed(2L).contains("[SSN]"))
    assert(streamed(3L) == "nothing sensitive here")
  }

  test("chunking is stream-safe and agrees with the batch chunker") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val staged = SparkSpec.tempDir("graft-chunk-in")
    val tmp = SparkSpec.tempDir("graft-chunk-w")
    val docs = Seq(
      (1L, (1 to 60).map(i => s"w$i").mkString(" ")), // 3 chunks
      (2L, "tiny doc"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(tmp.resolve("p").toString)
    val src = Files.list(tmp.resolve("p")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(src), staged.resolve("b0.parquet"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
    val q = graft.ops.CorpusOps.chunks(stream)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.lastProgress.stateOperators.isEmpty,
      "chunking must create no streaming state")
    val streamed = spark.table("chunk_stream")
      .orderBy("doc_id", "chunk_id").collect().toSeq
    val batch = graft.ops.CorpusOps.chunks(docs)
      .orderBy("doc_id", "chunk_id").collect().toSeq
    assert(streamed == batch, "stream and batch chunks must be identical")
    assert(batch.count(_.getLong(0) == 1L) == 3)
  }

  test("d226 ann ingest: a batch-1 arrival's best match IS a batch-0 " +
      "novel (the d221 staleness pin, streamed), exact ADC integers " +
      "end to end") {
    // Hand-computable IVF-PQ world, 64-dim, everything in subspace 0:
    //   a = 8·e0, b = 8·e1, E = 2·e2, F = 1·e3.
    // Corpus (ids 0..19): ids 5 = b+E and 15 = b−E, everything else = a.
    // Cell training (c0 = ids 0..7, Lloyd sample {0,5,10,15}) converges
    // EXACTLY to two cells {cell0: a, cell5: b}; residuals: a-ids → 0,
    // id5 → +E, id15 → −E. Codebook training collapses to exactly TWO
    // m=0 entries: code0 = mean(0, 0, −E) = −0.6667·e2 and code5 = E
    // (m ≥ 1 holds the single zero entry). Corpus codes: a-ids → code0,
    // 5 → code5, 15 → code0 — so (cell0, code5) is a pair NO corpus
    // vector occupies.
    // Arrivals, split1 = 20, split2 = 22, threshold 100000 (L2² = 10):
    //   20 (batch 0) = a+2E → cell0, code5; best corpus ADC =
    //     l2e4(2E, −0.6667·e2) = round(4.6667²·1e4) = 217781 > T
    //     → NOVEL, indexed at the unoccupied (cell0, code5);
    //   21 (batch 0) = b+E+F → cell5; ADC vs 5 = l2e4(E+F, E) = 10000
    //     ≤ T → NEAR_DUP of 5, never indexed;
    //   22 (batch 1) = a+2E → cell0; ADC vs 20 = l2e4(2E, E) = 40000
    //     beats every corpus candidate's 217781 STRICTLY (no id
    //     tie-break involved) → match_id 20 is provable only if the
    //     batch-1 probe read the batch-0 delta — the staleness pin;
    //   23 (batch 1) = b+E+F → cell5, match 5 at 10000 (near-dup 21
    //     is absent from the index, so the original keeps winning).
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-d226-spec")
    def vec(parts: (Int, Float)*): Array[Float] = {
      val v = Array.fill(64)(0f)
      parts.foreach { case (i, x) => v(i) = x }
      v
    }
    val a = vec(0 -> 8f)
    val bE = vec(1 -> 8f, 2 -> 2f) // b + E
    val bmE = vec(1 -> 8f, 2 -> -2f) // b − E
    val a2E = vec(0 -> 8f, 2 -> 4f) // a + 2E
    val bEF = vec(1 -> 8f, 2 -> 2f, 3 -> 1f) // b + E + F
    val rows = (0L to 19L).map { i =>
      (i, if (i == 5) bE else if (i == 15) bmE else a, 0)
    } ++ Seq((20L, a2E, 0), (21L, bEF, 0), (22L, a2E, 0), (23L, bEF, 0))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("w").toString)
    val part = Files.list(dir.resolve("w")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), dir.resolve("embeddings.parquet"))
    val got = graft.streaming.StreamGates
      .streamAnnIngest(spark, dir.toString, 20L, 22L, 100000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toList
    assert(got == List(
      (20L, 0L, 0L, 0L, 217781L, "novel"),
      (21L, 0L, 5L, 5L, 10000L, "near_dup"),
      (22L, 1L, 0L, 20L, 40000L, "near_dup"),
      (23L, 1L, 5L, 5L, 10000L, "near_dup")), s"got $got")
  }

  test("d228 state evolution: v2 reads v1 rows with the added field " +
      "defaulting to zero, boundary sessions continue, unsaferow " +
      "checkpoints refuse to evolve") {
    // span 0..55 min → cut at 27.5 min.
    // u1: pre {0,10}, post {40,45} — the 30-min gap 10→40 is EXACTLY
    //     the threshold (not >), so the boundary session CONTINUES:
    //     1 session / 4 events / 2 post-upgrade (a v2 that lost v1's
    //     state would say 2 events; a garbage default breaks the 2);
    // u2: pre-only {1} — no post-cut input, absent from output;
    // u3: post-only {50} — a fresh v2 user: 1/1/1;
    // u4: pre {2}, post {55} — 53-min gap splits: 2/2/1.
    val dir = plantLog(Seq(
      (1L, T0, 1L, "view", 0.0),
      (2L, T0 + min(10), 1L, "view", 0.0),
      (3L, T0 + min(40), 1L, "view", 0.0),
      (4L, T0 + min(45), 1L, "view", 0.0),
      (5L, T0 + min(1), 2L, "view", 0.0),
      (6L, T0 + min(50), 3L, "view", 0.0),
      (7L, T0 + min(2), 4L, "view", 0.0),
      (8L, T0 + min(55), 4L, "view", 0.0)))
    val got = graft.streaming.StreamGates
      .stateEvolution(spark, dir, encoding = "avro")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List((1L, 1L, 4L, 2L), (3L, 1L, 1L, 1L),
      (4L, 2L, 2L, 1L)), s"got $got")
    // discriminative: the default positional encoding cannot evolve —
    // the v2 restart must be REFUSED, not silently misread
    val ex = intercept[Exception] {
      graft.streaming.StreamGates
        .stateEvolution(spark, dir, encoding = "unsaferow")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
        Option(t.getMessage).exists(_.toUpperCase.contains("SCHEMA"))),
      s"expected a schema-compatibility refusal, got $ex")
  }

  test("d227 ttl dedup: expiry re-admits re-sent contents; in-batch " +
      "dups still collapse; TTL off trips the expiry require") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-d227-spec")
    // 5 rows, 3 distinct contents — in-batch dups must collapse in
    // BOTH batches regardless of TTL (same-key rows arrive in one
    // handleInputRows call)
    Seq((0L, "alpha text"), (1L, "alpha text"), (2L, "beta text"),
      (3L, "alpha text"), (4L, "gamma text"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("w").toString)
    val part = Files.list(dir.resolve("w")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), dir.resolve("documents.parquet"))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val distinct =
      Seq("alpha text", "beta text", "gamma text").map(md5hex).sorted
    val got = graft.streaming.StreamGates
      .twsTtlDedup(spark, dir.toString, ttlMs = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    val want = distinct.map((0L, _)) ++
      (distinct :+ md5hex(graft.streaming.StreamGates.TtlProbeText))
        .sorted.map((1L, _))
    assert(got == want, s"got $got want $want")
    // discriminative: with TTLConfig.NONE nothing ever expires, batch 1
    // admits only its probe, and the gate's re-admission require fires
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamGates.twsTtlDedup(spark, dir.toString,
        ttlMs = 0L)
    }
    assert(ex.getMessage.contains("TTL did not expire"),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("d226 ann ingest: an arrival whose routed cells hold no codes " +
      "is novel with a null match") {
    import spark.implicits._
    val dim = 64
    val cents = Seq((0L, Array.fill(dim)(1.0)), (1L, Array.fill(dim)(-1.0)))
      .toDF("cent_id", "cv")
    val books = (0 until 4).map(m => (m, 0L, Array.fill(16)(0.0)))
      .toDF("m", "code", "cv")
    val idx = Seq.empty[(Long, Long, Int, Long)]
      .toDF("vec_id", "cell", "m", "code")
    val arrivals = Seq((7L, Array.fill(dim)(1.0))).toDF("vec_id", "v")
    val got = graft.ops.Similarity
      .ingestProbe(arrivals, idx, graft.ops.Similarity.Book.collect(cents),
        graft.ops.Similarity.Book.collectPq(books), 100000L).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 7L)
    assert(got.head.isNullAt(1) && got.head.isNullAt(2),
      "empty probed cells must yield a null match")
    assert(got.head.getString(3) == "novel")
  }

  test("d233 dim refresh: batch 0 joins the v1 dim, batch 1 the v2 " +
      "rebuild; users outside a version's definition stay null") {
    import spark.implicits._
    // u1: 2 purchases + 1 view → v1 feat 2, v2 feat 3;
    // u2: 3 views, no purchase → absent from v1 (null batch-0 match),
    //     feat 3 under v2's widened definition.
    // Clicks land on both parities so BOTH batches see both users.
    val rows = Seq(
      (10L, "purchase", 1L), (11L, "purchase", 1L), (12L, "view", 1L),
      (13L, "view", 2L), (14L, "view", 2L), (15L, "view", 2L),
      (20L, "click", 1L), (21L, "click", 1L),
      (22L, "click", 2L), (23L, "click", 2L))
    val dir = SparkSpec.tempDir("graft-d233-spec").toString
    rows.zipWithIndex.map { case ((id, t, u), i) =>
      (id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), u, t,
        1.0 + i)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = graft.streaming.StreamGates.d233DimRefresh(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .toList
    assert(got == List(
      (20L, 1L, 0L, 1L, 2L), // even click, u1: v1 purchase count
      (21L, 1L, 1L, 2L, 3L), // odd click, u1: v2 widened count
      (22L, 2L, 0L, -1L, -1L), // even click, u2: no v1 row — null
      (23L, 2L, 1L, 2L, 3L)), // odd click, u2: v2 sees the views
      s"got $got")
  }

  test("d234 observed metrics equal hand-computed per-batch counters") {
    import spark.implicits._
    val rows = Seq(
      (0L, "purchase", 1.25), (1L, "view", 2.50), (2L, "purchase", 3.00),
      (3L, "purchase", 0.50), (4L, "view", 1.00), (5L, "view", 2.00))
    val dir = SparkSpec.tempDir("graft-d234-spec").toString
    rows.zipWithIndex.map { case ((id, t, v), i) =>
      (id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        (i % 2).toLong, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = graft.streaming.StreamGates.d234StreamObserve(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (0L, 3L, 2L, 525L), // even ids 0/2/4: two purchases, 5.25 total
      (1L, 3L, 1L, 500L)), // odd ids 1/3/5: one purchase, 5.00 total
      s"got $got")
  }

  test("streaming sessionization equals batch q18") {
    val dir = stageEventsDir()
    val q = EventStreams.sessionCounts(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // update mode re-emits a user's row per batch; keep the final state
    val streamed = spark.table("sessions_stream")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_sessions").as("n_sessions"),
        org.apache.spark.sql.functions.max("n_events").as("n_events"))
      .orderBy("user_id").collect()
    val batch = Queries.q18Sessionize(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getLong(1) == b.getLong(1), s"user ${s.getLong(0)} sessions")
      assert(s.getLong(2) == b.getLong(2), s"user ${s.getLong(0)} events")
    }
  }
}
