package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetMeta

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
    val dir = Files.createTempDirectory("graft-pqmeta").resolve("out")
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
