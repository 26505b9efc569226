package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.functions.{L2SqE4, MinHashSigs, ShingleHashes, SimHash48, TokenHashes}
import graft.meta.MetadataCompiler
import graft.ops.TextOps
import graft.validate.TableValidator

/** One benchmark run in one JVM: set up, time closed-loop passes over one
  * workload's operations, and write the raw measurements as JSON for
  * `perfbench/run.py`, which checks outputs and reports the metrics.
  *
  * Arguments (all `--key value`):
  *  - `kind`: `validate` (`graft.Main.run` per table) or `gates`
  *    (one `SparkEntry.queries` gate after another per pass);
  *  - `seconds`: passes repeat until this much time has been measured;
  *    at least one pass always runs;
  *  - `trace`: `1` mixes untraced and traced passes and adds the
  *    per-layer probes; `0` runs untraced passes only;
  *  - `warmup`: how many untimed passes set-up runs before timing;
  *  - `cpus`, `work` (scratch directory), `out` (result JSON);
  *  - validate: `base`, `ops` (`kind:table;kind:table`);
  *  - gates: `corpus`, `ops` (`set:g1,g2;set:g3`).
  *
  * Set-up is timed from the JVM's start until the session is built and the
  * untimed warm-up passes over the operations have returned, so cold start,
  * class loading and JIT compilation count there and not in the passes.
  * Each warm-up pass's operation times are kept in the result as well.
  *
  * Tracing is done from outside the program only: a `SparkListener` and a
  * `StreamingQueryListener` attached here, a job group set around each
  * call, and timings of those calls. The streaming listener stays
  * attached on untraced passes too: the micro-batch latency it reports
  * is an end-to-end metric, and Spark computes the progress it reads
  * whether or not anyone listens.
  */
object Harness {
  final case class Op(set: String, name: String)

  def main(args: Array[String]): Unit = {
    val startedS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = opt("kind")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val out = new java.util.LinkedHashMap[String, Any]()
    val failures = new java.util.LinkedHashMap[String, String]()
    var attempted = 0L
    def attempt[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failures.put(s"$name#$attempted",
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          None
      }
    }

    // ------------------------------------------------------------ set-up
    val workload: Workload = kind match {
      case "validate" => new ValidateWorkload(opt("base"), parseOps(opt("ops")))
      case "gates" => new GatesWorkload(opt("corpus"), parseOps(opt("ops")), work)
      case other => sys.error(s"unknown kind $other")
    }
    val spark = session(cpus, work)
    val warmup = new java.util.ArrayList[Any]()
    for (_ <- 1 to opt("warmup").toInt) {
      val times = new java.util.LinkedHashMap[String, Any]()
      workload.ops.foreach { op =>
        val o0 = System.nanoTime()
        attempt(op.name)(workload.run(spark, op))
        times.put(op.name, (System.nanoTime() - o0) / 1e9)
        releaseCached(spark)
      }
      warmup.add(times)
    }
    out.put("setup_s", startedS + (System.nanoTime() - t0) / 1e9)
    out.put("warmup", warmup)

    val batches = new BatchListener
    spark.streams.addListener(batches)

    // ------------------------------------------------------------ passes
    val passes = new java.util.ArrayList[Any]()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    val m0 = System.nanoTime()
    var p = 0
    // a traced run orders its passes untraced, traced, traced, untraced,
    // so warm-up and drift fall on both sides of trace.overhead_frac
    while (p == 0 || (traced && p < 4) ||
        (System.nanoTime() - m0) / 1e9 < seconds) {
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      val pass = new java.util.LinkedHashMap[String, Any]()
      val times = new java.util.LinkedHashMap[String, Any]()
      val counters = new java.util.LinkedHashMap[String, Any]()
      batches.reset()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gc.map(_.getCollectionTime).sum
      workload.ops.foreach { op =>
        val c = new Counters
        if (tracedPass) spark.sparkContext.addSparkListener(c)
        spark.sparkContext.setJobGroup(s"${op.set}/${op.name}", op.name)
        val o0 = System.nanoTime()
        val ok = attempt(op.name)(workload.run(spark, op))
        val took = (System.nanoTime() - o0) / 1e9
        spark.sparkContext.clearJobGroup()
        PerfbenchBus.drain(spark.sparkContext)
        if (tracedPass) {
          spark.sparkContext.removeSparkListener(c)
          counters.put(op.name, c.toMap)
        }
        if (ok.isDefined) times.put(op.name, took)
        releaseCached(spark)
      }
      pass.put("traced", tracedPass)
      pass.put("ops_s", times)
      pass.put("batches", batches.toSeq)
      if (tracedPass) {
        pass.put("counters", counters)
        pass.put("gc_s", (gc.map(_.getCollectionTime).sum - gc0) / 1e3)
        pass.put("peak_heap_mb",
          heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      }
      passes.add(pass)
      p += 1
    }
    out.put("passes", passes)

    // ----------------------------------------- per-layer probes (traced)
    if (traced) {
      val probes = new java.util.LinkedHashMap[String, Any]()
      attempt("probes")(workload.probes(spark, probes))
      out.put("probes", probes)
    }
    out.put("ops", workload.ops.map(_.name))
    out.put("sets", workload.ops.groupBy(_.set).map { case (k, v) => k -> v.map(_.name) })
    val extra = if (traced) workload.extraOps else Nil
    out.put("extra", extra)
    out.put("oracles", SparkEntry.oracleSql.filter { case (k, _) =>
      workload.ops.exists(_.name == k) || extra.contains(k) })
    out.put("validate", workload.report)
    out.put("attempted", attempted)
    out.put("failures", failures)
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().writeValueAsString(Harness.toJava(out)))
    spark.stop()
  }

  /** The session `graft.Bench` and `graft.Verify` use, on `local[cpus]`. */
  private def session(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parseOps(spec: String): Seq[Op] =
    spec.split(";").toSeq.flatMap { s =>
      val Array(set, names) = s.split(":", 2)
      names.split(",").map(n => Op(set, n))
    }

  private def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val r = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => r.put(k.toString, toJava(x)) }
      r
    case l: java.util.List[_] => l.asScala.map(toJava).asJava
    case m: Map[_, _] => toJava(m.map { case (k, x) => k.toString -> x }.asJava)
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }

  /** Releases what an operation left cached, untimed, as `graft.Bench`
    * does, so no operation inherits another's block-manager pressure. */
  def releaseCached(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def timed(probes: java.util.Map[String, Any], key: String, scale: Double)(
      body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    probes.put(key, (System.nanoTime() - t) / 1e9 * scale)
  }
}

/** What one workload runs; the harness owns timing and tracing. */
trait Workload {
  def ops: Seq[Harness.Op]
  def run(spark: SparkSession, op: Harness.Op): Unit
  def probes(spark: SparkSession, into: java.util.Map[String, Any]): Unit
  /** Outputs `run.py` checks beyond the written files. */
  def report: Map[String, Any] = Map.empty
  /** Gates the probes run once, untimed; `run.py` checks their outputs. */
  def extraOps: Seq[String] = Nil
}

/** `graft.Main.run` on generated tables, one after another; each op's
  * set names the table kind and its name is the table. */
final class ValidateWorkload(base: String, val ops: Seq[Harness.Op])
    extends Workload {
  private val codes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Int]]()
  private val stdout = mutable.LinkedHashMap[String, String]()

  private def mainRun(spark: SparkSession, t: String): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      graft.Main.run(spark, base, t)
    }
    (code, buf.toString("UTF-8"))
  }

  def run(spark: SparkSession, op: Harness.Op): Unit = {
    val (code, text) = mainRun(spark, op.name)
    codes.getOrElseUpdate(op.name, mutable.ArrayBuffer[Int]()) += code
    stdout(op.name) = text
  }

  override def report: Map[String, Any] = ops.map { op =>
    op.name -> Map("exit_codes" -> codes.get(op.name).map(_.toSeq).getOrElse(Nil),
      "last_stdout" -> stdout.getOrElse(op.name, ""))
  }.toMap

  /** Per table, the validator's public calls one at a time, in
    * `performValidation` order, each timed; plus the metadata compile.
    * For attribution only: together they redo what one `Main.run` does. */
  def probes(spark: SparkSession, into: java.util.Map[String, Any]): Unit =
    ops.foreach { case Harness.Op(kind, table) =>
      val csvMeta = s"$base/metadata/csv/${table}_metadata.csv"
      var meta: graft.meta.TableMetadata = null
      Harness.timed(into, s"meta.$kind.compile_ms", 1e3) {
        val json = MetadataCompiler.compileToJsonFile(csvMeta)
        meta = MetadataCompiler.fromJson(Files.readString(Paths.get(json)))
      }
      val v = new TableValidator(spark, meta, s"$base/inputs/$table.csv",
        s"$base/inputs/VALIDATION/${table}_TMP/")
      Harness.timed(into, s"validate.$kind.column_names_s", 1.0)(v.validateColumnNames())
      var count: graft.validate.CheckResult = null
      Harness.timed(into, s"validate.$kind.field_count_s", 1.0) {
        count =
          if (meta.hasQuote) v.validateNumberOfFieldsQuoteAware(v.csvTable)
          else v.validateNumberOfFields(v.csvTable)
      }
      var typed: Seq[graft.validate.CheckResult] = Nil
      Harness.timed(into, s"validate.$kind.typed_s", 1.0) { typed = v.typedCheckResults() }
      // the field-count check goes to the CSV fallback exactly when it
      // counted mismatching lines
      into.put(s"validate.$kind.fallback_taken", if (count.failedCount > 0) 1 else 0)
      into.put(s"validate.$kind.rows_failed",
        (count +: typed).filterNot(_.passed).map(_.failedCount).sum)
    }
}

/** `SparkEntry.queries` gates over a generated corpus, one after another.
  * Each result is written as parquet under `work`, where `run.py`
  * hash-compares it with the gate's DuckDB oracle after the run. */
final class GatesWorkload(corpus: String, val ops: Seq[Harness.Op], work: String)
    extends Workload {

  /** Its output carries the IVF-PQ recall reported beside the time. */
  override def extraOps: Seq[String] = Seq("d223_ivfpq_recall")

  private def write(spark: SparkSession, name: String): Unit =
    SparkEntry.queries(name)(spark, corpus)
      .write.mode("overwrite").parquet(s"$work/out/$name")

  def run(spark: SparkSession, op: Harness.Op): Unit = write(spark, op.name)

  def probes(spark: SparkSession, into: java.util.Map[String, Any]): Unit = {
    extraOps.foreach { g => write(spark, g); Harness.releaseCached(spark) }
    timeKernels(spark, into)
  }

  /** One pass of each public column kernel, timed alone: shingles plus
    * MinHash signatures and SimHash over the documents (repeated 5 times
    * so kernel work outweighs job start-up), squared L2 from 200 query
    * vectors to every embedding. */
  private def timeKernels(spark: SparkSession, into: java.util.Map[String, Any]): Unit = {
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
      .crossJoin(spark.range(5).toDF("rep"))
      .select(TextOps.tokens(col("text")).as("toks"), col("text"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Harness.timed(into, "functions.shingle_minhash_s", 1.0)(noop(docs.select(
      MinHashSigs(ShingleHashes(col("toks"),
        TextOps.hash60(col("text")) % ShingleHashes.M)).as("sig"))))
    Harness.timed(into, "functions.simhash_s", 1.0)(noop(docs.select(
      SimHash48(TokenHashes(col("toks"), 0L)).as("sh"))))
    val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") < 200).select(col("v").as("q"))
    Harness.timed(into, "functions.l2_s", 1.0)(noop(
      emb.crossJoin(broadcast(q)).select(L2SqE4(col("v"), col("q")).as("d"))))
  }
}

/** Per-operation Spark counters, filled from scheduler events. */
final class Counters extends SparkListener {
  private var jobs, stages, tasks, maxStageTasks, maxScanTasks = 0L
  private var busyMs, bytesRead, rowsRead, bytesWritten, rowsWritten = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val stageReads = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages += 1
    maxStageTasks = math.max(maxStageTasks, si.numTasks)
    if (si.taskMetrics != null && si.taskMetrics.inputMetrics.bytesRead > 0)
      maxScanTasks = math.max(maxScanTasks, si.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      bytesRead += m.inputMetrics.bytesRead
      rowsRead += m.inputMetrics.recordsRead
      bytesWritten += m.outputMetrics.bytesWritten
      rowsWritten += m.outputMetrics.recordsWritten
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Largest task shuffle read ÷ the median task's, worst stage; stages
    * whose median task reads nothing are left out. */
  private def skew: Double =
    stageReads.values.filter(_.size >= 2).flatMap { xs =>
      val s = xs.sorted
      val med = s(s.size / 2)
      if (med > 0) Some(s.last.toDouble / med) else None
    }.maxOption.getOrElse(0.0)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "max_stage_tasks" -> maxStageTasks, "max_scan_tasks" -> maxScanTasks,
    "busy_s" -> busyMs / 1e3, "bytes_read" -> bytesRead, "rows_read" -> rowsRead,
    "bytes_written" -> bytesWritten, "rows_written" -> rowsWritten,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "partition_skew" -> skew)
}

/** Micro-batch progress of every streaming query a pass starts. */
final class BatchListener extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer[Map[String, Any]]()

  def reset(): Unit = synchronized(rows.clear())
  def toSeq: Seq[Map[String, Any]] = synchronized(rows.toSeq)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val row = Map[String, Any](
      "query" -> p.id.toString,
      "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
      "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)
    synchronized(rows += row)
  }
}
