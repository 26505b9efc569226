package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated operator: its name, its Spark implementation over a table
  * directory, and the DuckDB SQL that must produce the same rows. Each
  * module declares its gates next to its operators, so a gate cannot
  * exist without its oracle. */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (or a north-star extension), expressed Spark-first; [[oracleSql]] holds
  * the DuckDB-equivalent SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every module's gates, in registry order. */
  val gates: Seq[Gate] =
    Queries.gates ++ ops.TextOps.gates ++ ops.FuzzyDedup.gates ++
      ops.Similarity.gates ++ ops.Multimodal.gates ++
      ops.CorpusOps.gates ++ ops.GraphOps.gates ++ ops.SqlSurface.gates ++
      streaming.StreamGates.gates ++ validate.ValidationQueries.gates

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle).toMap

  /** Whether `SPARK_GRAFT_ONLY` (comma-separated gate names; unset means
    * every gate) selects gate `name` — Bench's and Verify's filter. */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  private lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
}
