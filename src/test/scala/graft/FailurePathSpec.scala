package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetMeta
import graft.streaming.StreamGates

/** `Par.actions` failure path: a failing action must not leave its
  * siblings running once the call has returned. */
class ParSpec extends AnyFunSuite {

  test("a failing action stops its siblings before the call returns") {
    val started = new CountDownLatch(1)
    val writes = new AtomicLong()
    val stopped = new AtomicBoolean(false)
    val writer = () => {
      started.countDown()
      // keeps writing until interrupted; the bound only guards the test
      try {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (System.nanoTime() < deadline) {
          writes.incrementAndGet()
          Thread.sleep(5)
        }
      } catch { case _: InterruptedException => () }
      finally stopped.set(true)
    }
    val sibling = () =>
      try Thread.sleep(30000)
      catch {
        case _: InterruptedException =>
          throw new IllegalStateException("sibling interrupted")
      }
    val failing = () => {
      started.await()
      Thread.sleep(50) // the writer is mid-stream when this fails
      throw new IllegalArgumentException("boom")
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](
      Par.actions(Seq(writer, sibling, failing), slots = 3))
    assert(e.getMessage == "boom")
    assert(stopped.get(), "returned while a sibling was still running")
    val after = writes.get()
    Thread.sleep(100)
    assert(writes.get() == after, "a sibling kept writing after the return")
    assert(System.nanoTime() - t0 < 20L * 1000000000L,
      "the running sibling was waited out instead of stopped")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("sibling interrupted"))
  }

  test("actions queued behind a failure never start") {
    val ran = new AtomicLong()
    val e = intercept[IllegalStateException](Par.actions(
      (() => throw new IllegalStateException("first")) +:
        Seq.fill(5)(() => { Thread.sleep(200); ran.incrementAndGet(); () }),
      slots = 1))
    assert(e.getMessage == "first")
    Thread.sleep(1500) // longer than the five queued actions would take
    assert(ran.get() == 0)
  }
}

/** `ParquetMeta.rowCount` counts what a Spark scan of the directory
  * reads, not every parquet file under it. */
class ParquetMetaSpec extends AnyFunSuite with SparkSpec {

  test("rowCount skips a leftover _temporary attempt and hidden directories") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-pqmeta").resolve("out")
    Seq(1, 2, 3).toDF("x").coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    // what an aborted task leaves behind, and a hidden side directory
    for (sub <- Seq("_temporary/0/_temporary/attempt_0", ".staging")) {
      val d = Files.createDirectories(dir.resolve(sub))
      Files.copy(part, d.resolve(part.getFileName))
    }
    assert(spark.read.parquet(dir.toString).count() == 3)
    assert(ParquetMeta.rowCount(dir.toString) == 3)
  }
}

/** The streaming gates' harness: a gate run leaves no memory-sink view,
  * no running query and no temp directory behind, whether it returns
  * or fails mid-drain. */
class StreamHarnessSpec extends SparkSpec {

  import SparkSpec.tmpEntries

  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name)
      .filter(_.matches("graft_.*_run\\d+"))

  /** `rows` as `<dir>/<table>.parquet`, one bare part-file as the gates'
    * inputs ship. */
  private def table(dir: Path, name: String,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    val out = dir.resolve(s"$name-w")
    rows.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"))
  }

  test("a memory-sink gate returns its rows and drops its view and temp dir") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-harness")
    table(dir, "documents", Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha"))
      .toDF("doc_id", "text"))
    val before = tmpEntries("graft-d76")
    val got = StreamGates.d76StreamDedup(spark, dir.toString)
    assert(sinkViews().isEmpty, "the memory sink's view outlived the gate")
    assert(tmpEntries("graft-d76") == before, "the gate left a temp directory")
    val hashes = Seq("alpha", "beta").map(t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString).sorted
    assert(got.collect().map(_.getString(0)).toSeq == hashes)
  }

  test("a gate failing mid-drain leaves no temp dir, view or running query") {
    val dir = SparkSpec.tempDir("graft-harness-bad")
    Files.writeString(dir.resolve("events.parquet"), "not a parquet file")
    val before = tmpEntries("graft-d104")
    // Spark's own checkpoint for a query started without one; it is
    // kept when the query fails
    val sparkCkpts = tmpEntries("temporary")
    intercept[Exception](
      StreamGates.d104StreamHourly(spark, dir.toString).collect())
    assert(tmpEntries("graft-d104") == before,
      "the failed gate left a temp directory")
    assert(tmpEntries("temporary") == sparkCkpts,
      "the failed gate left a checkpoint outside its scope")
    assert(sinkViews().isEmpty, "the failed gate left its sink's view")
    assert(spark.streams.active.isEmpty, "the failed gate left a query running")
  }

  test("a batch gate failing mid-body leaves no temp dir") {
    val dir = SparkSpec.tempDir("graft-harness-bad-batch")
    Files.writeString(dir.resolve("orders.parquet"), "not a parquet file")
    val before = tmpEntries("graft-d148")
    intercept[Exception](
      graft.ops.CorpusOps.d148SchemaEvolution(spark, dir.toString).collect())
    assert(tmpEntries("graft-d148") == before,
      "the failed gate left a temp directory")
  }
}
