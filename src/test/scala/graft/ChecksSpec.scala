package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import graft.meta.{ColumnMeta, MetadataCompiler, TableMetadata}
import graft.validate.TableValidator

/** End-to-end validation behavior against the reference's golden fixtures
  * plus adversarial counting cases (SURVEY.md §5). */
class ChecksSpec extends SparkSpec {

  private val refBase = ReferenceFixtures.path("bigDataValidator/validator")
  private def tmp(): Path = SparkSpec.tempDir("graftchk")

  private def validator(tablePath: String, metaCsv: String,
      badDir: String = tmp().resolve("bad").toString): TableValidator =
    new TableValidator(spark,
      MetadataCompiler.parseCsvFile(metaCsv), tablePath, badDir)

  /** What the Spark jobs run while it listened did: how many jobs, each
    * stage's task count, and each task's input bytes (from files or
    * cached blocks). */
  private final class Work extends SparkListener {
    val jobs = new AtomicLong()
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val taskBytes = new ConcurrentLinkedQueue[Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTasks.add(e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => taskBytes.add(m.inputMetrics.bytesRead))
    def widestStage: Int = stageTasks.asScala.maxOption.getOrElse(0)
  }

  /** `body`'s result and the work its Spark jobs did; the listener bus is
    * drained on both sides, so no other job is counted. */
  private def traced[T](body: => T): (T, Work) = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    val work = new Work
    sc.addSparkListener(work)
    try {
      val result = body
      TestListenerBus.drain(sc)
      (result, work)
    } finally sc.removeSparkListener(work)
  }

  /** `lines` as a file whose size is a multiple of the cluster's cores,
    * padding the last line with trailing blanks (which the CSV reader
    * trims), so an even split gives every core exactly one. */
  private def evenFile(path: Path, lines: Seq[String]): Long = {
    val text = lines.mkString("", "\n", "\n")
    val cores = spark.sparkContext.defaultParallelism
    val pad = (cores - text.length % cores) % cores
    Files.writeString(path, text.dropRight(1) + " " * pad + "\n")
    Files.size(path)
  }

  private val amountTable = TableMetadata(Seq(
    ColumnMeta("ID", "VARCHAR2", "", false),
    ColumnMeta("AMOUNT", "NUMBER", "", true),
    ColumnMeta("NAME", "VARCHAR2", "", true)), ".", "|", "")

  test("a clean multi-MB plain csv runs two jobs as wide as the cluster " +
      "and leaves the caller's conf alone") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    // about 800 KB per core, well above the validator's smallest split
    val cores = spark.sparkContext.defaultParallelism
    val size = evenFile(data, "ID|AMOUNT|NAME" +:
      (1 to 30000 * math.max(4, cores)).map(i => s"$i|${i % 997}.25|name number $i"))
    assert(size > 3000000)
    val conf = spark.conf.getAll
    val (results, work) = traced(new TableValidator(spark, amountTable,
      data.toString, dir.resolve("bad").toString).performValidation())
    assert(results.forall(_.passed), results)
    // the header read runs no job: the text count and the summary do
    assert(work.jobs.get == 2)
    assert(work.widestStage == cores, work.stageTasks)
    assert(spark.conf.getAll == conf)
  }

  test("a small csv is scanned by one task, not cut into one split per core") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    Files.writeString(data, ("ID|AMOUNT|NAME" +:
      (1 to 100).map(i => s"$i|$i.25|n$i")).mkString("", "\n", "\n"))
    val (results, work) = traced(new TableValidator(spark, amountTable,
      data.toString, dir.resolve("bad").toString).performValidation())
    assert(results.forall(_.passed), results)
    assert(work.widestStage == 1, work.stageTasks)
  }

  test("a dirty quoted csv is parsed as csv once, its sinks written from the kept rows") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    val q = "\""
    // every 50th line has an extra field (the CSV reader's corrupt
    // record), every 70th a bad AMOUNT
    val size = evenFile(data, s"${q}ID$q|${q}AMOUNT$q|${q}NAME$q" +:
      (1 to 60000).map { i =>
        val amount = if (i % 70 == 0) "n/a" else s"${i % 997}.25"
        s"$q$i$q|$q$amount$q|${q}name|$i$q" + (if (i % 50 == 0) "|extra" else "")
      })
    val meta = amountTable.copy(stringSeparator = q)
    val bad = dir.resolve("bad").toString
    val conf = spark.conf.getAll
    val (results, work) = traced(
      new TableValidator(spark, meta, data.toString, bad).performValidation())
    assert(results.map(r => r.check -> r.failedCount) == Seq(
      "column_names" -> 0, "field_count_quoted" -> 1200,
      "typed:ID:not_null" -> 0, "typed:AMOUNT:type_format" -> 857))
    // text count, summary, and one write per sink
    assert(work.jobs.get == 4)
    // a quoted CSV is parsed whole by one task; the sinks read the kept
    // rows, so no second task reads the whole file again
    assert(work.taskBytes.asScala.count(_ >= size) == 1, work.taskBytes)
    assert(spark.read.parquet(bad).count() == 1200)
    assert(spark.read.parquet(bad.stripSuffix("/") + "_TYPED").count() == 857)
    assert(spark.conf.getAll == conf)
  }

  test("reference success fixture passes end-to-end") {
    val v = validator(s"$refBase/inputs/success.csv",
      s"$refBase/metadata/csv/success_metadata.csv")
    val results = v.performValidation()
    // typed:BIRTH_DATE is the one declared check with an enforceable type;
    // its dd/MM/yyyy values (`23/1/2002`) pass via the SimpleDateFormat-
    // lenient pattern (TypedChecks.lenientPattern)
    assert(results.map(_.check) == Seq("column_names", "field_count_quoted",
      "typed:BIRTH_DATE:type_format"))
    assert(results.forall(_.passed), results.mkString("; "))
  }

  test("tableExamples fixture fails column names (BIRH_DATE typo)") {
    val v = validator(ReferenceFixtures.path("tableExamples/success (1).csv"),
      ReferenceFixtures.path("tableExamples/success_metadata (1).csv"))
    val r = v.validateColumnNames()
    assert(!r.passed)
    assert(r.detail.contains("BIRH_DATE"))
    assert(!v.validate()) // overall verdict fails
  }

  test("header normalization: quote-strip as char set + uppercase + superset") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    Files.writeString(data, "\"id\"|\"Name\"|extra\n\"1\"|\"x\"|\"y\"\n")
    val meta = TableMetadata(Seq(
      ColumnMeta("ID", "VARCHAR2", "", true),
      ColumnMeta("NAME", "VARCHAR2", "", true)), ".", "|", "\"\"\"\"")
    val v = new TableValidator(spark, meta, data.toString,
      dir.resolve("bad").toString)
    assert(v.actualColumns == Seq("ID", "NAME", "EXTRA"))
    val r = v.validateColumnNames()
    assert(r.passed) // superset: extra columns tolerated
    assert(r.detail.contains("EXTRA"))
  }

  test("header stripping with 'nan' metadata strips the raw {n,a} set") {
    // reference parity: str.strip('nan') on the header path — the nan→\
    // sentinel mapping applies only to the CSV reader's quote char
    val dir = tmp()
    val data = dir.resolve("t.csv")
    Files.writeString(data, "naidan|aCOUNTa\n1|2\n")
    val meta = TableMetadata(Seq(
      ColumnMeta("ID", "VARCHAR2", "", true),
      ColumnMeta("COUNT", "VARCHAR2", "", true)), ".", "|", "nan")
    val v = new TableValidator(spark, meta, data.toString,
      dir.resolve("bad").toString)
    assert(v.actualColumns == Seq("ID", "COUNT"))
    assert(v.validateColumnNames().passed)
  }

  test("naive field count passes on clean unquoted file") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    Files.writeString(data, "a|b|c\n1|2|3\n4|5|6\n")
    val meta = TableMetadata(Seq(
      ColumnMeta("A", "VARCHAR2", "", true),
      ColumnMeta("B", "VARCHAR2", "", true),
      ColumnMeta("C", "VARCHAR2", "", true)), ".", "|", "")
    val v = new TableValidator(spark, meta, data.toString,
      dir.resolve("bad").toString)
    assert(v.validate())
  }

  test("field-count mismatch falls back to csv reader and writes bad rows") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    // row 2 has 4 fields; unquoted metadata → naive path; csv reader also
    // sees a malformed row → corrupt record → parquet sink + FAIL
    Files.writeString(data, "a|b|c\n1|2|3\n1|2|3|4\n")
    val meta = TableMetadata(Seq(
      ColumnMeta("A", "VARCHAR2", "", true),
      ColumnMeta("B", "VARCHAR2", "", true),
      ColumnMeta("C", "VARCHAR2", "", true)), ".", "|", "")
    val bad = dir.resolve("bad").toString
    val v = new TableValidator(spark, meta, data.toString, bad)
    val results = v.performValidation()
    val fc = results.find(_.check == "field_count").get
    assert(!fc.passed)
    assert(fc.detail.contains("first offender (count=4, line=2)"))
    val badDf = spark.read.parquet(bad)
    assert(badDf.count() == 1)
    assert(badDf.columns.contains("CorruptRecCol"))
  }

  test("first offender in a later split keeps its file line number") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    val lines = "a|b|c" +: (1 to 199).map(i =>
      if (i == 150 || i == 170) s"$i|2|3|4" else s"$i|2|3")
    Files.writeString(data, lines.mkString("", "\n", "\n"))
    // small splits: the file is read as several partitions, and line 150
    // is not in the first
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "256")
    assert(small.read.text(data.toString).rdd.getNumPartitions > 2)
    val meta = TableMetadata(Seq(
      ColumnMeta("A", "VARCHAR2", "", true),
      ColumnMeta("B", "VARCHAR2", "", true),
      ColumnMeta("C", "VARCHAR2", "", true)), ".", "|", "")
    val v = new TableValidator(small, meta, data.toString,
      dir.resolve("bad").toString)
    val (results, work) = traced(v.performValidation())
    // the validator's scans keep the caller's smaller split size
    assert(work.widestStage >= (Files.size(data) + 255) / 256, work.stageTasks)
    val fc = results.find(_.check == "field_count").get
    assert(!fc.passed)
    assert(fc.failedCount == 2)
    assert(fc.detail.contains("first offender (count=4, line=150)"), fc.detail)
  }

  test("unnamed trailing column suppresses count mismatch (hotfix parity)") {
    val dir = tmp()
    val data = dir.resolve("t.csv")
    // header ends with a dangling separator AND a data row miscounts →
    // the fallback fires, sees the "" last-but-one schema field (after
    // the corrupt col is appended) → warn + pass
    Files.writeString(data, "a|b|\n1|2\n3|4|\n")
    val meta = TableMetadata(Seq(
      ColumnMeta("A", "VARCHAR2", "", true),
      ColumnMeta("B", "VARCHAR2", "", true)), ".", "|", "")
    val v = new TableValidator(spark, meta, data.toString,
      dir.resolve("bad").toString)
    val r = v.performValidation().find(_.check == "field_count").get
    assert(r.passed)
    assert(r.detail.contains("unnamed empty trailing column"))
  }

  test("quote-aware counts match Python re golden values") {
    // goldens computed with the reference's regex (sep=|, quote=") under
    // CPython re.findall — Java regexp_extract_all must agree
    val cases = Seq(
      "a|b|c" -> 3,
      "||" -> 2,
      "a|\"b|c\"|d" -> 3,
      "|a" -> 2,
      "a|" -> 2,
      "\"x\"\"y\"|z" -> 2,
      "\"12378687\"|\"Patricia A. (Patricia Ann)\"|\"Turner|\"23/1/2002\"" -> 3,
      "\"ID\"|\"NAME\"|\"SURNAME\"|\"BIRTH_DATE\"" -> 4)
    val dir = tmp()
    val data = dir.resolve("t.csv")
    Files.writeString(data, cases.map(_._1).mkString("\n"))
    val meta = TableMetadata(Seq(ColumnMeta("X", "VARCHAR2", "", true)),
      ".", "|", "\"")
    val v = new TableValidator(spark, meta, data.toString,
      dir.resolve("bad").toString)
    import org.apache.spark.sql.functions._
    val got = spark.read.text(data.toString)
      .select(col("value"),
        size(regexp_extract_all(col("value"), lit(v.quoteAwareRegex), lit(0)))
          .as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    cases.foreach { case (line, expected) =>
      assert(got(line) == expected, s"line <$line>")
    }
  }

  test("multiLine is gated on declared quote (scale guard)") {
    val withQuote = TableMetadata(
      Seq(ColumnMeta("A", "VARCHAR2", "", true)), ".", "|", "\"")
    val noQuote = withQuote.copy(stringSeparator = "")
    assert(withQuote.hasQuote && !noQuote.hasQuote)
  }
}
