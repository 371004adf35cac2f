package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.Analyzer
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Attribute, CodegenObjectFactoryMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one sanctioned crossing between the public DataFrame API and
  * catalyst `LogicalPlan`s, for mounting custom logical operators (e.g.
  * `graft.plans.TopKPerGroup`) into a user-facing `DataFrame`.
  *
  * Lives under `org.apache.spark.sql` because `Dataset.ofRows` is
  * `private[sql]` — the standard extension-library technique (the
  * supported `SparkSessionExtensions` hooks inject rules and strategies,
  * but offer no public constructor from a logical plan to a DataFrame).
  * The other members reach `private[sql]` internals the same way, each
  * for one named purpose.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A DataFrame over `plan` whose rows `encoder` deserializes, so no
    * encoder is derived from the plan's schema for it. */
  def ofRows(spark: SparkSession, plan: LogicalPlan,
      encoder: ExpressionEncoder[Row]): DataFrame = {
    val s = spark.asInstanceOf[ClassicSparkSession]
    s.withActive(new ClassicDataset[Row](s, plan, encoder))
  }

  /** The encoder `ofRows` derives for `schema`, built under `spark`'s
    * settings (`datetime.java8API` picks the external date and time
    * types), and resolved and bound once, under `spark`, for attributes of
    * `schema`. Its `resolveAndBind` returns that bound copy for attributes
    * with `schema`'s data types and nullability in order, which a bound
    * deserializer reads by ordinal: so collecting a Dataset whose output
    * is `schema` runs no analyzer pass over the deserializer. Other
    * attributes, such as those of another frame read through the encoder
    * with `as`, are resolved as usual; `map`, `copy` and every other use
    * see an ordinary unresolved encoder. One can serve any number of
    * DataFrames. (DataFrame set operators, which may widen types, derive
    * an encoder of their own.) */
  def boundRowEncoder(spark: SparkSession, schema: StructType): ExpressionEncoder[Row] = {
    val s = spark.asInstanceOf[ClassicSparkSession]
    s.withActive {
      val e = ExpressionEncoder(RowEncoder.encoderFor(schema))
      new BoundRowEncoder(e,
        e.resolveAndBind(DataTypeUtils.toAttributes(schema), s.sessionState.analyzer))
    }
  }

  private final class BoundRowEncoder(e: ExpressionEncoder[Row], bound: ExpressionEncoder[Row])
      extends ExpressionEncoder[Row](e.encoder, e.objSerializer, e.objDeserializer) {
    private val fields = schema.map(f => (f.dataType, f.nullable))

    override def resolveAndBind(attrs: Seq[Attribute],
        analyzer: Analyzer): ExpressionEncoder[Row] =
      if (attrs.map(a => (a.dataType, a.nullable)) == fields) bound
      else super.resolveAndBind(attrs, analyzer)
  }

  def planOf(df: DataFrame): LogicalPlan = df.queryExecution.logical

  /** A session cloned from `spark` (settings, functions, temporary views)
    * that evaluates projections interpreted: `UnsafeProjection.create` and
    * `SafeProjection.create` read the factory mode from the active session,
    * which `Dataset.collect` makes the result's own. Whole-stage codegen is
    * unaffected. The `QueryExecutionListener`s copied from `spark` are
    * removed, so a one-shot listener pending on `spark` is not kept alive
    * by the clone. */
  def interpretedSession(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[ClassicSparkSession].cloneSession()
    s.listenerManager.clear()
    s.sessionState.conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key,
      CodegenObjectFactoryMode.NO_CODEGEN.toString)
    s
  }

  /** Catalyst expression behind a public `Column` (Spark 4 hides `.expr`
    * behind the agnostic ColumnNode API). Converted EAGERLY — the lazy
    * `ColumnNodeExpression` wrapper from `ExpressionUtils.expression` is
    * not serializable and must never reach a task closure. */
  def exprOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Public `Column` over a Catalyst expression: the inverse of [[exprOf]],
    * so a native expression needs no function-registry entry to be used
    * from the Column API. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
