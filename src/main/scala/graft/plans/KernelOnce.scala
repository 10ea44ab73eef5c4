package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}

/** Marks an expression whose per-row cost dominates the operators around
  * it (a decode, a parse, an automaton walk), so [[KernelOnce]] makes sure
  * each row evaluates it at most once.
  */
trait CostlyKernel extends Expression

/** Physical rule: evaluate each costly kernel once per row.
  *
  * Predicate pushdown copies an aliased kernel (`extract_plain_text(...) AS
  * text`) into every Filter conjunct that reads `text`, and `FilterExec` has
  * no common-subexpression elimination, so a gate such as `tokenCount(text)
  * >= 30 AND array_max(blocklistCounts(text)) = 0` under a projection of
  * `text` runs decode -> parse -> extract three times per page. For
  * `ProjectExec(list, FilterExec(cond, child))` or a bare `FilterExec`
  * whose `cond` holds a [[CostlyKernel]] this rule rewrites
  *
  * {{{
  * Project(list)                              Project(list, k(x) read as kernel)
  *   Filter(c1 AND g(k(x)) AND h(k(x)))  ==>    Filter(g(kernel) AND h(kernel))
  *     child                                      Project(child.output :+ k(x) AS kernel)
  *                                                  Filter(c1)
  *                                                    child
  * }}}
  *
  * Conjuncts keep their order: the ones before the first kernel conjunct
  * stay below, each distinct kernel (by `semanticEquals`) is aliased in
  * the projection, and the rest of the condition and the project list read
  * the alias. Nested kernels are hoisted innermost first, one projection
  * each. A kernel is hoisted only when it occurs at least twice, and only
  * when the first conjunct that references it evaluates it on every row
  * that reaches the conjunct: one under `If`/`CaseWhen`/`Coalesce`, on the
  * right of `And`/`Or`, or after a nullable sibling that may short-circuit
  * it stays where it is, so no row runs a kernel it would have skipped.
  * A nondeterministic condition is left alone.
  *
  * It is a physical rule, registered by [[graft.GraftExtensions]] before
  * the columnar transitions: a logical rewrite would be undone by
  * `PushDownPredicates`, which runs in several optimizer batches. The
  * columnar hook runs with and without AQE (per query stage) and before
  * `CollapseCodegenStages`, so the hoisted projection fuses into the same
  * whole-stage-codegen span and its alias is evaluated lazily, at the
  * first conjunct that reads it.
  */
object KernelOnce extends Rule[SparkPlan] with PredicateHelper {

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case p @ ProjectExec(list, f @ FilterExec(cond, child)) =>
      val c = apply(child)
      hoist(cond, list, c).getOrElse(p.withNewChildren(Seq(f.withNewChildren(Seq(c)))))
    case f @ FilterExec(cond, child) =>
      val c = apply(child)
      hoist(cond, f.output, c).getOrElse(f.withNewChildren(Seq(c)))
    case other => other.withNewChildren(other.children.map(apply))
  }

  /** The children `e` evaluates on every row it is evaluated on. */
  private def alwaysEvaluated(e: Expression): Seq[Expression] = {
    // a null child short-circuits the children after it (nullSafeCodeGen)
    def upToNullable(xs: Seq[Expression]) = {
      val i = xs.indexWhere(_.nullable)
      if (i < 0) xs else xs.take(i + 1)
    }
    e match {
      case c: ConditionalExpression => c.alwaysEvaluatedInputs
      case a: And => Seq(a.left)
      case o: Or => Seq(o.left)
      case i: In => Seq(i.value)
      case h: HigherOrderFunction => upToNullable(h.arguments)
      case _: CodegenFallback => Nil
      case _ => upToNullable(e.children)
    }
  }

  private def evaluatedKernels(e: Expression): Seq[Expression] =
    (e match { case k: CostlyKernel => Seq(k); case _ => Nil }) ++
      alwaysEvaluated(e).flatMap(evaluatedKernels)

  private def hoist(cond: Expression, list: Seq[NamedExpression],
      child: SparkPlan): Option[SparkPlan] = {
    if (!cond.deterministic || !cond.exists(_.isInstanceOf[CostlyKernel])) return None
    val conjuncts = splitConjunctivePredicates(cond)
    var subst = Map.empty[Expression, Attribute] // canonical kernel -> its alias
    def sub(e: Expression): Expression = e.transformUp {
      case k: CostlyKernel if subst.contains(k.canonicalized) => subst(k.canonicalized)
    }
    def occurrences(k: Expression): Int =
      (conjuncts ++ list).map(e => sub(e).collect { case x if x.semanticEquals(k) => x }.size).sum
    val seen = mutable.Set.empty[Expression] // kernels earlier conjuncts reference
    var plan = child
    var pending = Vector.empty[Expression]

    conjuncts.foreach { c0 =>
      var c = sub(c0)
      def candidates = {
        val ks = evaluatedKernels(c).filter(k => !seen(k.canonicalized) &&
          k.references.subsetOf(plan.outputSet) && occurrences(k) >= 2)
        val innermost = ks.filterNot(k =>
          ks.exists(o => !o.semanticEquals(k) && k.children.exists(_.exists(_.semanticEquals(o)))))
        innermost.distinctBy(_.canonicalized)
      }
      var ks = candidates
      while (ks.nonEmpty) {
        if (pending.nonEmpty) plan = FilterExec(pending.reduce(And), plan)
        pending = Vector.empty
        val aliases = ks.map(Alias(_, "kernel")())
        plan = ProjectExec(plan.output ++ aliases, plan)
        subst ++= ks.map(_.canonicalized).zip(aliases.map(_.toAttribute))
        c = sub(c)
        ks = candidates
      }
      c.foreach { case k: CostlyKernel => seen += k.canonicalized; case _ => }
      pending :+= c
    }
    if (subst.isEmpty) None
    else Some(ProjectExec(list.map(sub(_).asInstanceOf[NamedExpression]),
      FilterExec(pending.reduce(And), plan)))
  }
}
