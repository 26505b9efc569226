package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.CountMinSketch

/** Count-min-sketch build/probe helpers for FREQUENCY prefilters — the
  * counting sibling of [[BloomFilters]]' membership prefilter.
  *
  * The scale pattern (heavy-hitter detection): an exact per-token count
  * over 100 TB shuffles the entire long-tail vocabulary — billions of
  * hapax tokens that can never reach a frequency threshold. A count-min
  * sketch built in one pass (KBs–MBs, mergeable, driver receives only
  * the merged table) OVERESTIMATES every count, never underestimates —
  * so probing `estimate ≥ threshold` on the scan side drops the tail
  * BEFORE the exchange while provably keeping every true heavy hitter.
  * The exact `GROUP BY … HAVING count ≥ threshold` that follows touches
  * only the surviving candidates and restores exact semantics: like the
  * bloom pattern, the sketch changes the plan, never the answer
  * ([[graft.ops.CorpusOps.d71HeavyHitters]] is the gated user).
  *
  * Build and probe agree on hashing: `DataFrameStatFunctions
  * .countMinSketch` inserts long columns via `addLong`, and the probe
  * calls `CountMinSketch.estimateCount` on the same implementation
  * (`FunctionsSpec` pins the no-underestimate contract across the
  * build→serialize→probe path).
  */
object CmsSketch {

  /** Distributed count-min-sketch build over a LONG column (one
    * aggregation job; the driver receives the merged sketch, never
    * rows). `totalCount()` of the returned sketch is the number of
    * inserted rows — a free exact N from the same pass, which thresholds
    * like "frequency ≥ φ·N" need anyway. */
  def buildLong(df: DataFrame, colName: String, eps: Double,
      confidence: Double, seed: Int): CountMinSketch =
    df.stat.countMinSketch(colName, eps, confidence, seed)

  def serialize(cms: CountMinSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }

  /** Estimated count of `value` in the serialized sketch, as a codegen'd
    * Catalyst expression; the sketch rides into the task as a foldable
    * binary literal. */
  def estimateLong(sketch: Array[Byte], value: Column): Column =
    GraftColumns.column(CmsEstimate(
      Literal(sketch, BinaryType), GraftColumns.expression(value)))
}

/** `CountMinSketch.estimateCount` as a Catalyst expression:
  * `cms_estimate(sketchBytes, value) → BIGINT` (≥ the true insert count
  * of `value`, never below — the CMS one-sided error bound).
  *
  * Mirrors Spark's own `BloomFilterMightContain` shape: the sketch
  * argument must be a foldable binary (or an uncorrelated scalar
  * subquery, for the SQL surface) so it deserializes ONCE per task —
  * lazily, into a transient field the generated code references — and
  * never per row. The per-row probe boxes the long value
  * (`CountMinSketch` exposes only `estimateCount(Object)`); the box is
  * a non-escaping allocation the JIT routinely scalar-replaces, and the
  * probe sits on the pre-shuffle scan side where it replaces a
  * full-vocabulary exchange — measured against that, the box is noise.
  */
case class CmsEstimate(sketchExpression: Expression,
    valueExpression: Expression) extends BinaryExpression {

  override def left: Expression = sketchExpression
  override def right: Expression = valueExpression
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    (sketchExpression.dataType, valueExpression.dataType) match {
      case (BinaryType, LongType) =>
        sketchExpression match {
          case e if e.foldable => TypeCheckResult.TypeCheckSuccess
          case _: PlanExpression[_] =>
            // uncorrelated scalar subquery: evaluated once before the
            // stage runs, so the lazy one-shot deserialization holds
            TypeCheckResult.TypeCheckSuccess
          case _ => TypeCheckResult.TypeCheckFailure(
            s"$prettyName: the sketch argument must be a constant or " +
              "scalar subquery (it deserializes once per task, it cannot " +
              "vary per row)")
        }
      case (s, v) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (BINARY, BIGINT) arguments, got ($s, $v)")
    }

  /** Deserialized once per task (transient: the bytes travel, the
    * decoded table is rebuilt lazily on each executor). */
  @transient private lazy val sketch: CountMinSketch =
    sketchExpression.eval() match {
      case null => null
      case bytes: Array[Byte] =>
        CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
    }

  override def nullSafeEval(sketchBytes: Any, value: Any): Any =
    // sketchBytes already decoded via the lazy field — one-shot, not per row
    sketch.estimateCount(value.asInstanceOf[java.lang.Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (_, v) => {
      val cmsRef = ctx.addReferenceObj("cmsSketch", sketch,
        classOf[CountMinSketch].getName)
      s"${ev.value} = $cmsRef.estimateCount(java.lang.Long.valueOf($v));"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CmsEstimate =
    copy(sketchExpression = newLeft, valueExpression = newRight)
}
