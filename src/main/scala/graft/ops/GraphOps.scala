package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Gate, Tables}

/** Iterative graph analytics over the event log.
  *
  * The dedup family already exercises one iterative-graph shape
  * (pointer-jumping connected components, [[Clustering]]); this adds the
  * other canonical one — power-iteration PageRank (Page et al. 1999,
  * public) — over the event-type transition graph that
  * [[CorpusOps.d90EventTransitions]] reports as a matrix. Behavioral
  * PageRank over a transition graph is the standard "which state is
  * central" statistic behind session-flow dashboards and Markov-chain
  * attribution models.
  */
object GraphOps {

  /** Fixed power-iteration count. PageRank converges geometrically at
    * rate = damping (0.85^8 ≈ 0.27 of the initial error remains — fine
    * for a gate whose POINT is the iteration shape; production runs to
    * an epsilon). A fixed count keeps the oracle expressible as
    * straight-line SQL: the DuckDB twin unrolls the same eight steps as
    * chained CTEs, so both engines execute the identical arithmetic. */
  private[graft] val PrIters = 8

  /** Teleport/damping split, declared as TWO constants: `lit(1.0 - 0.85)`
    * evaluated in Scala is 0.15000000000000002 while a SQL literal
    * `0.15` parses to 0.15 exactly — interpolating the SAME constants
    * into both plans keeps the double arithmetic bit-identical. */
  private[graft] val PrDamp = 0.85
  private[graft] val PrTeleport = 0.15

  /** TRANSITION-GRAPH PAGERANK — power iteration over the row-stochastic
    * event-type transition matrix (d90's edges): `pr'(v) = t/N + d·(Σ
    * incoming pr(u)·w(u,v) + dangling/N)`, eight fixed iterations from a
    * uniform start, dangling mass (nodes with no outgoing edges)
    * redistributed uniformly each step.
    *
    * Scale shape: the graph build is d90's (one user-window exchange,
    * then a tiny aggregate); each iteration is one edges⋈ranks join on
    * src plus one groupBy dst — both shuffles carry O(E) rows, the
    * classic edge-partitioned power iteration that scales to billions of
    * edges (ranks and edges can share a src partitioning so only the
    * contribution aggregate re-shuffles). The per-iteration
    * `localCheckpoint` truncates lineage so the eighth plan doesn't
    * carry all eight join trees; the dangling probe and node count are
    * 1-row/N-row broadcasts. At this fixture the graph is the 5-type
    * transition matrix — the gate pins the arithmetic; the shape is the
    * 100 TB design. */
  def d98PageRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val events = Tables.load(spark, dir, "events")
    val trans = events
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("prev_type").agg(sum("n").as("row_n"))
    val edges = trans.join(broadcast(totals), "prev_type")
      .select(col("prev_type").as("src"), col("event_type").as("dst"),
        (col("n").cast("double") / col("row_n")).as("w"))
      .localCheckpoint()
    val nodes = events.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    val nN = broadcast(nodes.agg(count(lit(1)).cast("double").as("n_nodes")))
    val srcs = edges.select(col("src").as("node")).distinct().localCheckpoint()

    var ranks = nodes.crossJoin(nN)
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to PrIters) {
      val dang = broadcast(
        ranks.join(srcs, Seq("node"), "left_anti")
          .agg(coalesce(sum("pr"), lit(0.0)).as("dang")))
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst").agg(sum(col("pr") * col("w")).as("m"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(nN).crossJoin(dang)
        .select(col("node"),
          (lit(PrTeleport) / col("n_nodes") + lit(PrDamp) *
            (coalesce(col("m"), lit(0.0)) + col("dang") / col("n_nodes")))
            .as("pr"))
        .localCheckpoint()
    }
    ranks.select(col("node"), round(col("pr"), 6).as("pagerank"))
      .orderBy("node")
  }

  /** The DuckDB twin unrolls the same eight iterations as chained CTEs
    * (r0 … r8), each computing the identical expression tree — teleport
    * and damping interpolated from the same constants as the Spark
    * plan. */
  val d98Oracle: String = {
    val base =
      s"""WITH trans AS (
           SELECT prev_type, event_type, count(*) AS n FROM (
             SELECT event_type,
               lag(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type
             FROM events)
           WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         totals AS (SELECT prev_type, sum(n) AS row_n FROM trans GROUP BY 1),
         edges AS (
           SELECT prev_type AS src, event_type AS dst, n * 1.0 / row_n AS w
           FROM trans JOIN totals USING (prev_type)),
         nodes AS (SELECT DISTINCT event_type AS node FROM events),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
         r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM nn) AS pr
                FROM nodes)"""
    val iters = (1 to PrIters).map { k =>
      val prev = s"r${k - 1}"
      s"""r$k AS (
           SELECT n.node,
             $PrTeleport / (SELECT n_nodes FROM nn) + $PrDamp *
               (coalesce(c.m, 0.0) +
                (SELECT coalesce(sum(pr), 0.0) FROM $prev
                 WHERE node NOT IN (SELECT DISTINCT src FROM edges))
                  / (SELECT n_nodes FROM nn)) AS pr
           FROM nodes n LEFT JOIN (
             SELECT e.dst, sum(r.pr * e.w) AS m
             FROM edges e JOIN $prev r ON r.node = e.src
             GROUP BY e.dst) c ON c.dst = n.node)"""
    }.mkString(",\n", ",\n", "")
    s"""$base$iters
       SELECT node, round(pr, 6) AS pagerank FROM r$PrIters ORDER BY node"""
  }

  // ---------------------------------------------------------- registry
  val gates: Seq[Gate] = Seq(
    Gate("d98_pagerank", d98PageRank, d98Oracle))
}
