package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Gate, Tables}
import graft.meta.{ColumnMeta, TableMetadata}

/** Driver-gated queries over the VALIDATION surface (VERDICT r2 task #5):
  * the engine's reason to exist — field counting and typed enforcement —
  * expressed as oracle-checkable queries over the parquet test tables.
  * Delimited lines are CONSTRUCTED deterministically from table columns,
  * then run through the same expressions the validator uses
  * ([[FieldCounting]], [[TypedChecks]]), so the DuckDB compare covers the
  * actual check machinery, not a reimplementation.
  */
object ValidationQueries {

  // --------------------------------------------------------------- v20
  /** Naive field-count histogram (P1+P4+A1 shape): every 5th line gets an
    * extra trailing field. Map-only counting + a 2-key aggregate —
    * the exact shuffle-free shape the validator runs at 100 TB. */
  def v20FieldCount(spark: SparkSession, dir: String): DataFrame = {
    val base = concat_ws("|", col("doc_id"), col("lang"), col("source"))
    val line = when(col("doc_id") % 5 === 0, concat(base, lit("|extra")))
      .otherwise(base)
    Tables.load(spark, dir, "documents")
      .select(line.as("line"))
      .select(FieldCounting.naiveCount(col("line"), "|").as("n_fields"))
      .groupBy("n_fields")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("n_fields")
  }

  val v20Oracle: String =
    """SELECT n_fields, count(*) AS n_lines FROM (
         SELECT len(string_split(
           CASE WHEN doc_id % 5 = 0
                THEN doc_id || '|' || lang || '|' || source || '|extra'
                ELSE doc_id || '|' || lang || '|' || source END, '|')) AS n_fields
         FROM documents)
       GROUP BY n_fields ORDER BY n_fields"""

  // --------------------------------------------------------------- v21
  /** Quote-aware vs naive field counts (P2/V3 vs P1/V2): every 3rd line
    * quotes its middle fields WITH an embedded separator, so the naive
    * count sees 3 fields while the quote-aware regex sees 2. The Spark
    * side runs the validator's actual quote-aware pattern
    * ([[FieldCounting.quoteAwareRegex]] — Java regex with lookaheads);
    * the oracle uses the RE2-safe equivalent for well-formed lines
    * (strip quoted spans, then split). */
  def v21QuoteFieldCount(spark: SparkSession, dir: String): DataFrame = {
    val quoted = concat(col("doc_id"), lit("|\""), col("lang"), lit("|"),
      col("source"), lit("\""))
    val plain = concat_ws("|", col("doc_id"), col("lang"), col("source"))
    val line = when(col("doc_id") % 3 === 0, quoted).otherwise(plain)
    Tables.load(spark, dir, "documents")
      .select(line.as("line"))
      .select(
        FieldCounting.naiveCount(col("line"), "|").as("n_naive"),
        FieldCounting.quoteAwareCount(col("line"), "|", "\"").as("n_quoted"))
      .groupBy("n_naive", "n_quoted")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("n_naive", "n_quoted")
  }

  val v21Oracle: String =
    """SELECT n_naive, n_quoted, count(*) AS n_lines FROM (
         SELECT len(string_split(line, '|')) AS n_naive,
                len(string_split(regexp_replace(line, '"[^"]*"', 'Q', 'g'), '|'))
                  AS n_quoted
         FROM (
           SELECT CASE WHEN doc_id % 3 = 0
                  THEN doc_id || '|"' || lang || '|' || source || '"'
                  ELSE doc_id || '|' || lang || '|' || source END AS line
           FROM documents))
       GROUP BY n_naive, n_quoted ORDER BY n_naive, n_quoted"""

  // --------------------------------------------------------------- v22
  /** Typed-enforcement error summary (SURVEY §7.1 step 4 as a gated
    * query): a string table derived from `orders` with deterministic
    * corruptions, validated by the engine's one-pass
    * [[TypedChecks.summaryDf]] (NUMBER regex, DATE format parse,
    * NOT-NULL blank check — single group-less aggregate, no shuffle). */
  def v22TypedErrors(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "orders").select(
      when(col("o_orderkey") % 97 === 0, lit("NaN"))
        .otherwise(col("o_totalprice").cast(DecimalType(12, 2)).cast("string"))
        .as("num_str"),
      when(col("o_orderkey") % 89 === 0, lit("31/02/bad"))
        .otherwise(date_format(col("o_orderdate"), "dd/MM/yyyy")).as("date_str"),
      when(col("o_orderkey") % 101 === 0, lit(""))
        .otherwise(col("o_orderpriority")).as("name_str"))
    val meta = TableMetadata(
      typeMapping = Seq(
        ColumnMeta("num_str", "NUMBER", "", nullable = true),
        ColumnMeta("date_str", "DATE", "dd/MM/yyyy", nullable = true),
        ColumnMeta("name_str", "VARCHAR2", "", nullable = false)),
      decimalSeparator = ".", fieldSeparator = "|", stringSeparator = "")
    TypedChecks.summaryDf(src, meta).orderBy("col_name", "check_name")
  }

  val v22Oracle: String =
    """WITH src AS (
         SELECT
           CASE WHEN o_orderkey % 97 = 0 THEN 'NaN'
                ELSE (o_totalprice::DECIMAL(12,2))::VARCHAR END AS num_str,
           CASE WHEN o_orderkey % 89 = 0 THEN '31/02/bad'
                ELSE strftime(o_orderdate, '%d/%m/%Y') END AS date_str,
           CASE WHEN o_orderkey % 101 = 0 THEN ''
                ELSE o_orderpriority END AS name_str
         FROM orders)
       SELECT 'num_str' AS col_name, 'type_format' AS check_name,
         CAST(count(*) FILTER (WHERE num_str IS NOT NULL AND num_str <> ''
           AND NOT regexp_matches(num_str,
             '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$')) AS BIGINT)
           AS n_errors
       FROM src
       UNION ALL
       SELECT 'date_str', 'type_format',
         CAST(count(*) FILTER (WHERE date_str IS NOT NULL AND date_str <> ''
           AND try_strptime(date_str, '%d/%m/%Y') IS NULL) AS BIGINT)
       FROM src
       UNION ALL
       SELECT 'name_str', 'not_null',
         CAST(count(*) FILTER (WHERE name_str IS NULL OR name_str = '') AS BIGINT)
       FROM src
       ORDER BY col_name, check_name"""

  val gates: Seq[Gate] = Seq(
    Gate("v20_field_count", v20FieldCount, v20Oracle),
    Gate("v21_quote_field_count", v21QuoteFieldCount, v21Oracle),
    Gate("v22_typed_errors", v22TypedErrors, v22Oracle))
}
