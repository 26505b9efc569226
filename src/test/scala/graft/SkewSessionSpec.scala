package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.CorpusOps

/** The hot-key-safe sessionization must be INDISTINGUISHABLE from the
  * canonical single-window definition — on exactly the distribution
  * the single window cannot survive at scale: one bot user holding
  * half the event log, with sessions that span many time chunks
  * (chained boundary merges), plus exact-gap and exact-chunk-boundary
  * edge events. */
class SkewSessionSpec extends SparkSpec {

  // ~2023-11-14, nowhere near a 6 h chunk boundary
  private val Base = 1700000000000000L
  private val Gap = 1800000000L // 30 min in µs (the session gap)

  /** (event_id, us, user_id, event_type) rows → events.parquet dir. */
  private def writeEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = SparkSpec.tempDir("skewfix").toString
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def fixture: String = {
    // HOT USER 1 — 3000 events (50% of the log): runs of 17-minute
    // spacing (continuation) broken by a 57-minute gap every 97 events
    // → sessions of ~97 events spanning ~27 h ≈ 4-5 six-hour chunks
    // each, so nearly every chunk transition is a MERGE and long
    // sessions chain merges across many chunks.
    val hot = (0 until 3000).map { i =>
      val us = Base + i.toLong * 1020L * 1000000L +
        (i / 97).toLong * 2400L * 1000000L
      (i.toLong, us, 1L, s"t${i % 5}")
    }
    // COLD USERS 2..50 — sparse: one event per ~62 min per user, so
    // almost every event is its own session (plenty of non-merged
    // chunk transitions too).
    val cold = (0 until 2990).map { i =>
      val u = 2L + (i % 49)
      val us = Base + (i / 49).toLong * 3720L * 1000000L +
        (i % 49).toLong * 123456789L
      (10000L + i, us, u, s"t${i % 3}")
    }
    // EDGE USER 99 — exact boundaries: two events 1 µs apart straddling
    // an exact chunk boundary (must merge), then a gap of EXACTLY the
    // session threshold (continuation: the rule is strictly >), then
    // threshold+1 (new session).
    val b0 = (Base / CorpusOps.SessChunkUs + 40) * CorpusOps.SessChunkUs
    val edge = Seq(
      (20000L, b0 - 1L, 99L, "a"),
      (20001L, b0, 99L, "b"),
      (20002L, b0 + Gap, 99L, "c"),
      (20003L, b0 + Gap + Gap + 1L, 99L, "d"))
    writeEvents(hot ++ cold ++ edge)
  }

  test("skew-safe sessionization equals the single-window baseline " +
      "on a planted 50%-hot-user log") {
    val dir = fixture
    val cols = Seq("user_id", "session_idx", "event_id", "event_type", "us")
    val base = CorpusOps.sessionizedEvents(spark, dir)
      .orderBy(cols.map(col): _*).collect()
    val safe = CorpusOps.sessionizedEventsSkewSafe(spark, dir)
      .orderBy(cols.map(col): _*).collect()
    assert(base.length == 5994 + 49 * 0) // 3000 + 2990 + 4
    assert(base.sameElements(safe),
      "skew-safe sessions diverge from the canonical definition")
    // sanity on the plant itself: the hot user's sessions really do
    // straddle chunks (otherwise this test exercises nothing)
    val hotSessions = CorpusOps.sessionizedEventsSkewSafe(spark, dir)
      .filter(col("user_id") === 1L)
      .groupBy("session_idx")
      .agg(((max(col("us") - (col("us") % CorpusOps.SessChunkUs)) -
        min(col("us") - (col("us") % CorpusOps.SessChunkUs))) /
        CorpusOps.SessChunkUs).as("chunks_spanned"))
    assert(hotSessions.filter(col("chunks_spanned") >= 3).count() > 10,
      "planted hot user must have many multi-chunk sessions")
  }

  test("a never-pausing mega-session keeps a bounded collect buffer " +
      "and exact first-K sequences through both frames") {
    // ONE user, 20 000 events, 90 s spacing — never a 30-minute pause,
    // so the gap rule makes it ONE session spanning 1.8 Ms ≈ 21 days
    // ≈ 83 six-hour chunks. This is exactly the adversary of VERDICT
    // r10 finding #2: before the sess_rk guard, the per-session
    // collect_list buffered all 20 000 structs in one aggregate row.
    val n = 20000
    val rows = (0 until n).map { i =>
      (i.toLong, Base + i.toLong * 90L * 1000000L, 1L, s"t${i % 7}")
    }
    val dir = writeEvents(rows)
    val expectSeq = (0 until CorpusOps.SeqMaxLen).map(i => s"t${i % 7}")
      .mkString(",")
    for (df <- Seq(CorpusOps.d80TrainingSequences(spark, dir),
        CorpusOps.d92SkewSessions(spark, dir))) {
      val out = df.collect()
      assert(out.length == 1, "one unbroken session expected")
      assert(out(0).getAs[Long]("n_events") == n.toLong)
      assert(out(0).getAs[String]("seq") == expectSeq)
    }
    // The guard must be INSIDE the aggregate: the collect_list input is
    // conditional on sess_rk, so the buffer never exceeds SeqMaxLen
    // structs (d80) / SeqMaxLen × chunks (d92) regardless of session
    // length.
    for (df <- Seq(CorpusOps.d80TrainingSequences(spark, dir),
        CorpusOps.d92SkewSessions(spark, dir))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("sess_rk"),
        s"bounded-collect guard missing from plan:\n$plan")
    }
    // The rank window must RIDE the existing user exchange, not add
    // one: d80's only hash exchange is the user_id shuffle (the final
    // orderBy adds a range exchange, which is output formatting).
    val phys = CorpusOps.d80TrainingSequences(spark, dir)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(phys).length
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange in d80, got $hashEx:\n$phys")
    // d123 on the same log: the path is the first 5 events' types.
    val paths = CorpusOps.d123SessionPaths(spark, dir).collect()
    assert(paths.length == 1)
    assert(paths(0).getAs[String]("path") == "t0>t1>t2>t3>t4")
    assert(paths(0).getAs[Long]("n_sessions") == 1L)
  }

  test("mega-session straddling chunk boundaries mid-prefix still " +
      "yields the exact global first K") {
    // Place the session so a 6 h chunk boundary falls INSIDE the first
    // SeqMaxLen events: events 5 µs apart crossing a boundary — later
    // chunks restart the lower-bound rank at 1, so the collected set is
    // a strict superset of the first K and the slice must discard the
    // extras, keeping exactly the global first K.
    val b0 = (Base / CorpusOps.SessChunkUs + 7) * CorpusOps.SessChunkUs
    val n = 40
    val rows = (0 until n).map { i =>
      (i.toLong, b0 - 8L * 5000000L + i.toLong * 5000000L, 3L, s"e$i")
    }
    val dir = writeEvents(rows)
    val expectSeq = (0 until CorpusOps.SeqMaxLen).map(i => s"e$i")
      .mkString(",")
    val out = CorpusOps.d92SkewSessions(spark, dir).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_events") == n.toLong)
    assert(out(0).getAs[String]("seq") == expectSeq,
      s"got ${out(0).getAs[String]("seq")}")
    val paths = CorpusOps.d123SessionPaths(spark, dir).collect()
    assert(paths(0).getAs[String]("path") == "e0>e1>e2>e3>e4")
  }

  test("funnel strict ordering holds across a chunk boundary: a " +
      "purchase before the first view must not convert") {
    val b0 = (Base / CorpusOps.SessChunkUs + 11) * CorpusOps.SessChunkUs
    val rows = Seq(
      // user 7, one session straddling the boundary: purchase BEFORE
      // the first view (must not count), then view | boundary | click,
      // purchase → converts at every step.
      (1L, b0 - 3000000L, 7L, "purchase"),
      (2L, b0 - 2000000L, 7L, "view"),
      (3L, b0 + 1000000L, 7L, "click"),
      (4L, b0 + 2000000L, 7L, "purchase"),
      // user 8, one session: view then purchase then click — purchase
      // precedes the click, so the funnel stops at view→click.
      (5L, b0, 8L, "view"),
      (6L, b0 + 1000000L, 8L, "purchase"),
      (7L, b0 + 2000000L, 8L, "click"))
    val dir = writeEvents(rows)
    val r = CorpusOps.d86OrderedFunnel(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_sessions") == 2L)
    assert(r.getAs[Long]("n_view") == 2L)
    assert(r.getAs[Long]("n_view_click") == 2L)
    assert(r.getAs[Long]("n_full_funnel") == 1L)
  }

  test("rank columns are pruned from plans that drop sess_rk: the " +
      "funnel never pays for the d80/d92 collect bound") {
    // sessionizedEventsSkewSafe computes rn + the running-max sess_rk
    // derivation and drops them; consumers like d86 must not carry the
    // dropped window expressions into their physical plan (VERDICT r11
    // next #5 — if this regresses, split the ranked frame so only the
    // collect-bounded consumers pay for ranks).
    val dir = fixture
    val plan = CorpusOps.d86OrderedFunnel(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("sess_rk"),
      s"d86 plan must prune the dropped sess_rk derivation; plan:\n$plan")
    assert(!"\\brn#\\d".r.findFirstIn(plan).isDefined,
      s"d86 plan must prune the dropped rn row_number; plan:\n$plan")
  }

  test("skew-safe path windows on (user_id, chunk), not user_id alone") {
    val dir = fixture
    val plan = CorpusOps.sessionizedEventsSkewSafe(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, ck#".r
        .findFirstIn(plan).isDefined,
      s"local window must partition on (user_id, ck); plan:\n$plan")
  }
}
