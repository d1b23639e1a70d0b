package graft.compile

import graft.functions.Param
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Literal-free filter code: in every `FilterExec` condition, a non-null
  * numeric, date or timestamp literal that is a direct operand of a
  * comparison (`=`, `<=>`, `<`, `<=`, `>`, `>=`, and so `<>`) or of an `In`
  * list becomes a [[Param]]. Spark inlines such literals into the
  * generated Java, so without this every fresh request value compiles a
  * new whole-stage class; with it, the requests of one shape share one.
  *
  * Scan nodes are not touched: `FileSourceScanExec`'s pushed and data
  * filters and `InMemoryTableScanExec.predicates` keep their literals, so
  * Parquet pushdown and in-memory batch pruning work as before (a
  * non-foldable value in the logical plan would lose both). Strings and
  * decimals already generate as references; `Like` patterns, `Round`
  * scales and literals inside arithmetic are shape, not value, and stay.
  *
  * Runs before the columnar transitions, in both `QueryExecution`'s
  * preparations and each adaptive stage's, so before codegen stages are
  * collapsed; [[extension]] installs it. */
object FilterParams extends Rule[SparkPlan] {

  private val valueTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.transformExpressions {
      case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      case in: In => in.withNewChildren(in.value +: in.list.map(param))
    }
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && valueTypes(t) => Param(v, t)
    case other => other
  }

  /** Installs the rule: `SparkSession.builder().withExtensions(extension)`. */
  val extension: SparkSessionExtensions => Unit =
    _.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = FilterParams
    })
}
