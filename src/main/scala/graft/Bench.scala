package graft

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Harness rules (VERDICT r2 "what's wrong" #1):
  *  - the action is a `noop`-format write, which executes the FULL plan —
  *    including final sorts and all output columns — unlike `count()`,
  *    which lets Catalyst prune both;
  *  - one untimed warmup pass over every query absorbs session/JIT
  *    startup so the first measured query isn't inflated;
  *  - queries run in sorted-name order (stable across JVMs — Map order
  *    is not);
  *  - a failing query is reported in an `errors` map, never as a fake
  *    timing;
  *  - each query is timed THREE times as INTERLEAVED FULL-SUITE SWEEPS
  *    (sweep 1: q1…v22, sweep 2: q1…v22, sweep 3: q1…v22) and the
  *    per-query MINIMUM across sweeps is reported (VERDICT r10 "what's
  *    wrong" #1): the previous structure timed a query's 3 passes
  *    back-to-back, so a single multi-minute external-contention window
  *    poisoned ALL THREE samples of every query it overlapped and the
  *    median was defenseless — r10's driver artifact fabricated a 10.8x
  *    regression on d80 this way (isolated re-runs showed 1.2 s, not
  *    13.6 s). With interleaved sweeps the suite takes minutes per
  *    sweep, so a contention window of any realistic length hits each
  *    query in at most ONE sweep; the min across sweeps then discards
  *    the contaminated sample. Min (not median) because the quantity of
  *    interest is the code's cost, and on an otherwise-idle box every
  *    source of sample variance (GC, page cache, external load) is
  *    additive noise — the min is the least-contaminated observation.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.create("graft-bench")

    // SPARK_GRAFT_ONLY=d15_dedup_clusters,d22_… restricts the suite —
    // an iteration convenience (time one query without 70 others); the
    // driver never sets it, so the gated run is always the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def runOnce(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }

    // Several ops localCheckpoint() intermediates; the blocks outlive the
    // query (freed only when the driver GCs the RDD handle), so over a
    // 70-query run they pile up in the block manager and later queries
    // inherit eviction/GC pressure from earlier ones — measured as
    // occasional 3x outliers (e.g. d34 0.7 s alone vs 2.9 s mid-suite).
    // Dropping them between queries (untimed) makes timings independent.
    // Blocking so the removal work lands in the untimed gap, not under
    // the next query.
    // clearCache additionally frees CACHE TABLE entries (the SQL-script
    // queries, e.g. d49) — those live in the CacheManager, which
    // getPersistentRDDs does not see.
    def releaseCheckpoints(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    names.foreach { n => runOnce(n); releaseCheckpoints() } // warmup (untimed)

    val sweeps = 3
    val samples =
      scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val lastErr = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach(n => samples(n) = Nil)
    for (_ <- 1 to sweeps; name <- names) {
      val t0 = System.nanoTime()
      val r = runOnce(name)
      val dt = (System.nanoTime() - t0) / 1e9
      releaseCheckpoints()
      r match {
        case None => samples(name) = dt :: samples(name)
        case Some(msg) => lastErr(name) = msg
      }
    }
    // A query lands in `errors` only if EVERY sweep failed — a query
    // that succeeds at all is a timing, not an error.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = names.flatMap { name =>
      samples(name) match {
        case Nil =>
          errors(name) = lastErr.getOrElse(name, "unknown"); None
        case ss => Some(name -> ss.min)
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":${jstr(sfDir)}}"""
    println(line)
    // The driver's BENCH_r{N}.json artifact keeps only a 2000-char
    // stdout tail — at 170+ queries that truncates 2/3 of the map, so
    // cross-round timing diffs were only possible on the alphabetical
    // tail (VERDICT r11 missing #3). Persist the SAME line to a file
    // the repo keeps (committed each round as BENCH_FULL_r{N}.json).
    // Best-effort: a read-only cwd must not fail the bench itself.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    if (out.nonEmpty) try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => () }
    // At 270 queries the full line is itself LONGER than the driver's
    // 2000-char tail window: the window then holds only the line's
    // tail, the `{"metric":…` prefix never appears, and the driver's
    // parse records `parsed: null` (r15 VERDICT "what's wrong" #1).
    // So the LAST line printed is a compact summary guaranteed to fit
    // the window whole: total + the slowest 15 queries + error count,
    // with a pointer at the committed full artifact. It carries
    // "summary":true so the two "metric":"total" lines are
    // unambiguous (r16 ADVICE #2) — consumers must take the LAST
    // metric line; a line-summing aggregator would double-count.
    // r16 still recorded `parsed: null` even though the compact line
    // was present and parseable in the tail — the remaining suspects
    // are Spark/sbt shutdown chatter landing AFTER our last print in
    // a combined-stream tail, so: silence the logger before stop,
    // emit the compact line on BOTH streams, and print the stdout
    // copy AGAIN after spark.stop() (explicitly flushed) as the very
    // last write this JVM makes.
    val slow = times.sortBy(-_._2).take(15)
    val qsShort =
      slow.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val esShort = errors.take(5)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v.take(60))}" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","summary":true,"value":$total,"unit":"sec","n_queries":${times.size},"n_errors":${errors.size},"queries":$qsShort,"errors":$esShort,"queries_full":${jstr(out)},"sf":${jstr(sfDir)}}"""
    println(compact)
    System.err.println(compact)
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
