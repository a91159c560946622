package graft.plans

import graft.functions.{ArrayCosineSim, ArrayDotProduct, ArrayL2Sq}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule that rewrites the Spark-idiomatic higher-order-function
  * vector math into the engine's codegen kernels:
  *
  *   aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,e) -> acc+e)
  *     ⇒ graft_dot(a, b)                     ([[ArrayDotProduct]])
  *   dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
  *     ⇒ graft_cosine(a, b)                  ([[ArrayCosineSim]])
  *   aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, (acc,e) -> acc+e)
  *     ⇒ graft_l2(a, b)                      ([[ArrayL2Sq]])
  *
  * Users (and the engine's own oracle-surface queries) write the
  * declarative HOF form; the plan executes the one-pass codegen loop —
  * the same declare-naive/execute-optimized contract as
  * [[RangeJoinRule]]. The rewrite is BIT-exact, not just algebraic:
  * the kernels accumulate left-to-right at double precision exactly
  * like the HOF fold (VectorExpressions doc), IEEE ·/+ are commutative
  * in the operand orders accepted below, and cosine's single fused loop
  * performs the same per-element operations as the three separate
  * passes. Null/length semantics match too (padded-null zip ⇒ NULL sum
  * ⇒ kernel's NULL on mismatch/null element).
  *
  * Zero-vector caveat (the ONE doc'd divergence, spec-pinned): on a
  * zero-norm operand the HOF quotient's divisor is 0.0 — non-ANSI
  * `Divide` NULLs, ANSI `Divide` (the Spark 4 default) ERRORS.
  * [[ArrayCosineSim]] returns NULL in both modes (`try_divide`
  * semantics): never Java's bare 0/0 ⇒ NaN — which would silently float
  * a zero vector to the top of a descending top-k — and never a
  * job-killing error for one degenerate corpus row.
  *
  * Disable with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.VectorKernelRule`
  * (the spec A/Bs results across it).
  *
  * Measured (sf0.1, local[16]): 1.5× on a 50M-pair broadcast-join
  * cosine workload (0.59 s → 0.39 s — the similarity-join hot path,
  * where per-pair lambda evaluation dominates); parity on scan-bound
  * single-pass workloads (the scan, not the fold, is the cost there).
  */
object VectorKernelRule extends Rule[LogicalPlan] {

  def inject(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => VectorKernelRule)

  private def toDoubleArray(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case ArrayType(_, n) => Cast(e, ArrayType(DoubleType, n))
    case _ => e
  }

  private def strip(v: Expression): Expression = v match {
    case Cast(c, DoubleType, _, _) => strip(c)
    case other => other
  }

  /** `x * y` (either operand order; with or without enclosing casts to
    * double — the analyzer inserts them for float arrays, the optimizer
    * may have simplified them away for double arrays) over exactly the
    * two given lambda variables. */
  private def isElemProduct(e: Expression, x: NamedLambdaVariable,
      y: NamedLambdaVariable): Boolean = e match {
    case Multiply(l, r, _) =>
      (strip(l), strip(r)) match {
        case (a: NamedLambdaVariable, b: NamedLambdaVariable) =>
          (a.exprId == x.exprId && b.exprId == y.exprId) ||
            (a.exprId == y.exprId && b.exprId == x.exprId)
        case _ => false
      }
    case _ => false
  }

  /** `(x-y)*(x-y)` — both factors the SAME orientation (a `(x-y)*(y-x)`
    * would be the NEGATED square; it must not match). `(y-x)*(y-x)` is
    * accepted: IEEE negation is exact, so the square is bit-equal. */
  private def isElemSqDiff(e: Expression, x: NamedLambdaVariable,
      y: NamedLambdaVariable): Boolean = {
    def diffDir(v: Expression): Option[Boolean] = strip(v) match {
      case Subtract(l, r, _) => (strip(l), strip(r)) match {
        case (a: NamedLambdaVariable, b: NamedLambdaVariable)
          if a.exprId == x.exprId && b.exprId == y.exprId => Some(true)
        case (a: NamedLambdaVariable, b: NamedLambdaVariable)
          if a.exprId == y.exprId && b.exprId == x.exprId => Some(false)
        case _ => None
      }
      case _ => None
    }
    e match {
      case Multiply(l, r, _) =>
        (diffDir(l), diffDir(r)) match {
          case (Some(d1), Some(d2)) => d1 == d2
          case _ => false
        }
      case _ => false
    }
  }

  /** aggregate(zip_with(a, b, λxy. ELEM), 0.0, λse. s+e[, identity]) —
    * the shared sum-fold frame; the element lambda is returned for the
    * kernel-specific matchers to inspect. */
  private object SumFold {
    def unapply(e: Expression): Option[(Expression, Expression, Expression,
        NamedLambdaVariable, NamedLambdaVariable)] = e match {
      case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(elem, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(l, r, _), Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(finArg: NamedLambdaVariable), _))
        if fin.exprId == finArg.exprId &&
          ((l, r) match {
            case (lv: NamedLambdaVariable, rv: NamedLambdaVariable) =>
              (lv.exprId == acc.exprId && rv.exprId == el.exprId) ||
                (lv.exprId == el.exprId && rv.exprId == acc.exprId)
            case _ => false
          }) =>
        Some((a, b, elem, x, y))
      case _ => None
    }
  }

  /** aggregate(zip_with(a, b, λxy. x·y), 0.0, λse. s+e[, identity]) */
  private object HofDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case SumFold(a, b, elem, x, y) if isElemProduct(elem, x, y) => Some((a, b))
      case _ => None
    }
  }

  /** aggregate(zip_with(a, b, λxy. (x−y)·(x−y)), 0.0, λse. s+e) — the
    * squared-L2 fold of k-means / PQ distance. */
  private object HofL2 {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case SumFold(a, b, elem, x, y) if isElemSqDiff(elem, x, y) => Some((a, b))
      case _ => None
    }
  }

  /** dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))) — norms in either
    * order (IEEE multiply commutes bitwise). */
  private object HofCosine {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Divide(HofDot(a, b),
          Multiply(Sqrt(HofDot(n1a, n1b)), Sqrt(HofDot(n2a, n2b)), _), _)
        if n1a.semanticEquals(n1b) && n2a.semanticEquals(n2b) &&
          ((n1a.semanticEquals(a) && n2a.semanticEquals(b)) ||
            (n1a.semanticEquals(b) && n2a.semanticEquals(a))) =>
        Some((a, b))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // top-down: the cosine quotient matches before its dot children do
      case HofCosine(a, b) =>
        ArrayCosineSim(toDoubleArray(a), toDoubleArray(b))
      case HofDot(a, b) =>
        ArrayDotProduct(toDoubleArray(a), toDoubleArray(b))
      case HofL2(a, b) =>
        ArrayL2Sq(toDoubleArray(a), toDoubleArray(b))
    }
}
