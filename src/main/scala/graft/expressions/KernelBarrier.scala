package graft.expressions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, PredicateHelper}
import org.apache.spark.sql.catalyst.optimizer.PushDownPredicates
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The plan barrier for the per-row text kernels (`text_stats`,
  * `word_ngrams`, q70's hit positions): an ordinary `Project` that
  * computes the kernel columns, wrapped in a node the optimizer cannot
  * see through.
  *
  * Over a plain `Project`, `PushPredicateThroughProject` moves a filter on
  * a kernel-derived column below it with the kernel INLINED once per
  * reference, and `CollapseProject` folds the kernel into CASE-WHEN
  * branches that codegen subexpression elimination cannot share; each
  * copy is another full pass over the document (q40: about 20 copies,
  * 2.3× slower). Catalyst pushes filters only through the node types it
  * knows, so over this node:
  *
  *  - each kernel column is computed once per row, by the inner `Project`;
  *  - a predicate on a kernel column stays above the barrier;
  *  - [[KernelBarrier.PushThroughKernel]] moves the conjuncts that read
  *    only pass-through columns inside, where Catalyst pushes them on to
  *    the scan;
  *  - column pruning still reaches inside (the node reads nothing
  *    itself), so the scan reads only what the query uses;
  *  - [[KernelBarrier.Planner]] plans the inner `Project` as an ordinary
  *    whole-stage-codegen `ProjectExec`; the barrier itself leaves no
  *    physical operator.
  *
  * The node wraps a `Project` rather than holding the projection itself
  * because the analyzer strips aliases from the expressions of any
  * operator it does not know. */
case class KernelBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): KernelBarrier =
    copy(child = c)
}

object KernelBarrier {

  /** `df` with each `(name, kernel)` column added behind one barrier.
    * A kernel may read any column of `df`, but not a sibling kernel:
    * stack a second call for that (q70's hit positions over its tokens). */
  def withKernel(df: DataFrame, kernels: (String, Column)*): DataFrame = {
    val s = df.sparkSession
    setup(s)
    val cols = col("*") +: kernels.map { case (name, k) => k.as(name) }
    Bridge.ofRows(s, KernelBarrier(df.select(cols: _*).queryExecution.analyzed))
  }

  /** Installs [[Planner]] and [[PushThroughKernel]] on `session` (the
    * `setup` pattern of Pathling's `SqlStrategy`), so a session needs no
    * `spark.sql.extensions` entry. Idempotent. */
  def setup(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Planner))
        x.extraStrategies = Planner +: x.extraStrategies
      if (!x.extraOptimizations.contains(PushThroughKernel))
        x.extraOptimizations = x.extraOptimizations :+ PushThroughKernel
    }
  }

  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case KernelBarrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** Splits a filter sitting on a barrier: the deterministic leading
    * conjuncts that read only pass-through columns (attributes the
    * barrier's input already carries) go inside, and Catalyst's own
    * `PushDownPredicates` carries them on; the rest stays above. */
  object PushThroughKernel extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case f @ Filter(cond, b @ KernelBarrier(inner)) =>
        val passThrough = inner.outputSet.intersect(AttributeSet(inner.children.flatMap(_.output)))
        val (det, nonDet) = splitConjunctivePredicates(cond).span(_.deterministic)
        val (below, above) = det.partition(_.references.subsetOf(passThrough))
        if (below.isEmpty) f
        else {
          val pushed = b.copy(child = PushDownPredicates(Filter(below.reduce(And), inner)))
          (above ++ nonDet).reduceOption(And).fold[LogicalPlan](pushed)(Filter(_, pushed))
        }
    }
  }
}
