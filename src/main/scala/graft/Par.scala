package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Run INDEPENDENT Spark actions from a small driver thread pool —
  * optimization guide §2.6 ("overlap independent jobs"): actions are
  * sequential only because the driver calls them sequentially, so a
  * gate that stages N source files or freezes M artifacts pays N+M
  * back-to-back job latencies where one pool-depth's worth suffices.
  * Used ONLY where the actions are provably independent: distinct
  * output directories, shared inputs immutable or already
  * checkpointed. Each action's own plan is unchanged, so results are
  * byte-identical to the sequential order; only the schedule moves.
  * Spark's scheduler runs concurrent driver-submitted jobs FIFO, which
  * is exactly the back-fill behavior wanted here.
  *
  * On the first failure the siblings are stopped: their Spark jobs are
  * cancelled by tag, queued actions never start, running ones are
  * interrupted, and the call returns only once every pool thread has
  * ended, so a caller's cleanup never races a sibling still writing.
  * The first failure is rethrown with the siblings' failures attached
  * as suppressed. */
object Par {
  private val calls = new AtomicLong()

  def actions(work: Seq[() => Unit], slots: Int = 4): Unit =
    if (work.sizeIs <= 1) work.foreach(_())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-par-${calls.incrementAndGet()}"
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val pool = Executors.newFixedThreadPool(math.min(slots, work.size))
      val done = new ExecutorCompletionService[Unit](pool)
      work.foreach(w => done.submit(() => {
        sc.foreach(_.addJobTag(tag))
        try w()
        catch { case e: Throwable => failures.add(e); throw e }
        finally sc.foreach(_.removeJobTag(tag))
      }, ()))
      try work.foreach { _ =>
        try done.take().get()
        catch {
          // surface the action's own require/IO failure, not the wrapper
          case e: ExecutionException =>
            sc.foreach(_.cancelJobsWithTag(tag))
            pool.shutdownNow()
            while (!pool.awaitTermination(1, TimeUnit.SECONDS)) ()
            val first = e.getCause
            failures.forEach(t => if (t ne first) first.addSuppressed(t))
            throw first
        }
      }
      finally pool.shutdown()
    }
}
