package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Similarity

/** How many Spark jobs the driver-coordinated paths run, counted by a
  * `SparkListener` (and the plans they execute, by a
  * `QueryExecutionListener`) over a drained listener bus: a table read
  * runs none, and a Lloyd round is one collected aggregate — no codebook
  * broadcast, no checkpoint. */
class DriverJobsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** `body`'s result, the jobs it started and the plans it executed. */
  private def traced[T](body: => T): (T, Long, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    val jobs = new AtomicLong()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executed = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(counter)
    spark.listenerManager.register(executed)
    try {
      val result = body
      TestListenerBus.drain(sc)
      (result, jobs.get, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(executed)
      sc.removeSparkListener(counter)
    }
  }

  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  test("Tables.load reads a one-file table's schema from its footer, " +
      "with no job, and it equals what inference gives") {
    val corpus = SparkSpec.tempDir("graft-corpus")
    val gen = scala.sys.process.Process(
      Seq("python3", "perfbench/gen.py", "corpus", "1", corpus.toString)).!
    assert(gen == 0, "perfbench/gen.py corpus failed")
    val dirs = Seq(sf -> Tables.names,
      corpus.toString -> Seq("documents", "embeddings", "events"))
    for ((dir, tables) <- dirs; t <- tables) {
      val path = s"$dir/$t.parquet"
      assert(new java.io.File(path).isFile, path)
      val (df, jobs, _) = traced(Tables.load(spark, dir, t))
      assert(jobs == 0, s"$path: loading ran $jobs jobs")
      val inferred = spark.read.parquet(path)
      val want = if (t == "events") EventTime.normalized(inferred).schema else inferred.schema
      assert(df.schema == want, s"$path: ${df.schema} vs $want")
    }
  }

  test("Lloyd training collects each round's codebook: no broadcast " +
      "exchange, no checkpoint") {
    val e = Similarity.emb(spark, sf)
    val first = Similarity.firstVecs(e, 8)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val train = e.filter(col("vec_id") % 5 === 0)
    val ((cents, books), jobs, plans) = traced(
      (Similarity.trainedCentroids(e, first), Similarity.pqTrain(train, "v", first.toSeq, 8)))
    assert(cents.ids.nonEmpty && books.forall(_.ids.nonEmpty))
    assert(plans.size == 4, s"one collected aggregate per round: ${plans.size} plans")
    val broadcasts = plans.flatMap(nodes).collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.isEmpty, s"training broadcast: ${broadcasts.map(_.nodeName)}")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "training checkpointed a frame")
    info(s"4 Lloyd rounds ran $jobs jobs")
  }

  test("d217 pq adc runs at most 9 Spark jobs") {
    val (rows, jobs, _) = traced(Similarity.d217PqAdc(spark, sf).collect())
    assert(rows.length == 9)
    assert(jobs <= 9, s"d217 ran $jobs jobs")
    info(s"d217 ran $jobs jobs")
  }
}
