package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.{DataType, StructType}

/** Prepared plans: a composition is analysed ONCE over placeholder
  * leaves (slots) and typed placeholder values (params), and each call
  * binds its own inputs into the analysed template instead of
  * re-analysing the whole composition.
  *
  * `bind` replaces every slot with a projection of its input that
  * keeps the slot's attribute ids (`input.output AS slot.output`), so
  * every reference the analyser resolved above the slot stays valid,
  * and every param with its literal. The result is marked analysed, so
  * `Dataset.ofRows` skips the analyser; the optimizer and the planner
  * still run on the bound plan, as they would on a freshly built one.
  * Lives under org.apache.spark.sql because `Dataset.ofRows` and
  * `setAnalyzed` are private[sql] (same pattern as LocalRows).
  */
object Rebind {

  /** A placeholder leaf typed by `output`. It holds no data: a slot
    * that reaches the optimizer's statistics or the planner unbound
    * fails there, loudly, naming itself. */
  case class Slot(name: String, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
    override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics =
      throw new IllegalStateException(s"slot `$name` was never bound to an input")
    override def simpleString(maxFields: Int): String = s"Slot $name"
  }

  /** A typed placeholder value, replaced by a literal at bind time.
    * Declared nullable: a template must not rely on its bound value. */
  case class Param(name: String, dataType: DataType) extends LeafExpression with Unevaluable {
    override def nullable: Boolean = true
  }

  /** A template input: a DataFrame over one slot typed by `schema`. */
  def slot(spark: SparkSession, name: String, schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      Slot(name, DataTypeUtils.toAttributes(schema)))

  /** A template value of type `dataType`, bound per call. */
  def param(name: String, dataType: DataType): Column =
    GraftBridge.column(Param(name, dataType))

  /** `c` evaluated once on the driver, through a one-row local query
    * (constant folding turns it into a local relation, so executing it
    * submits no job): `current_timestamp()` becomes one instant that
    * every plan bound with it shares. */
  def literal(spark: SparkSession, c: Column): Literal = {
    val ds = LocalRows.relation(spark, new StructType(), Seq(InternalRow.empty)).select(c)
    val dataType = ds.schema.head.dataType
    Literal(ds.queryExecution.executedPlan.executeCollect().head.get(0, dataType), dataType)
  }

  /** `template`'s analysed plan with every slot replaced by the input
    * of the same name and every param by the literal of the same name.
    * An input must have exactly its slot's schema, nullability
    * included: the plan above the slot was analysed against it. */
  def bind(template: DataFrame, inputs: Map[String, DataFrame],
           params: Map[String, Literal] = Map.empty): DataFrame = {
    val withParams = template.queryExecution.analyzed.transformAllExpressions {
      case p: Param =>
        val v = params.getOrElse(p.name,
          throw new IllegalArgumentException(s"no value bound to param `${p.name}`"))
        require(v.dataType == p.dataType,
          s"param `${p.name}` is ${p.dataType.sql}, bound to ${v.dataType.sql}")
        v
    }
    val plan = withParams.transformUp {
      case s: Slot =>
        val input = inputs.getOrElse(s.name,
          throw new IllegalArgumentException(s"no input bound to slot `${s.name}`"))
        require(input.schema == s.schema,
          s"slot `${s.name}` expects ${s.schema.simpleString}, bound to ${input.schema.simpleString}")
        val in = input.queryExecution.analyzed
        Project(in.output.zip(s.output).map { case (a, o) =>
          Alias(a, o.name)(exprId = o.exprId) }, in)
    }
    plan.setAnalyzed()
    classic.Dataset.ofRows(template.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }
}
