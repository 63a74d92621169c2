package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Expression, IsNotNull, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.types.LongType

import graft.functions.{BloomAgg, BloomMightContain}

/** Catalyst optimizer rule: AUTOMATIC Bloom semi-join reduction — the
  * injected form of [[graft.operators.Relational.qBloomJoin]]'s manual
  * pattern. For an eligible join it plants a scalar-subquery Bloom build
  * over the FILTERED (creation/dim) side and a
  * [[graft.functions.BloomMightContain]] probe Filter on the other
  * (application/fact) side, so fact rows that cannot match are dropped
  * BEFORE the join's shuffle. A Bloom filter has no false negatives and
  * the exact join still runs, so the rewrite can only ever REMOVE rows the
  * join would drop anyway — results are identical by construction.
  *
  * Spark ships its own runtime-filter rewrite, but its heuristics gate on
  * size estimates (creation side < 10 MB, application scan > 10 GB by
  * default) and miss shapes a user can see are profitable. This rule is
  * the explicit override for those cases:
  *
  * OPT-IN by session conf (like `spark.graft.rangeJoin.binWidth`):
  * {{{ spark.conf.set("spark.graft.bloomJoin.enabled", "true") }}}
  * The filter geometry is [[graft.functions.BloomFns]]' deterministic
  * 16 KiB / 5-probe build, so plans replay bit-identically — no runtime
  * size estimation anywhere.
  *
  * Eligibility (deliberately narrow; the conf is the coarse guard):
  *  - Inner join (either side may be the creation side) or LeftSemi
  *    (creation = right), with an equi conjunct on BIGINT keys — the
  *    probe kernel's key type;
  *  - the creation side subtree contains a deterministic, non-trivial
  *    Filter (something beyond the IsNotNull conjuncts Catalyst infers on
  *    join keys) — an unfiltered dim reduces nothing;
  *  - the application side does NOT: if both sides look selective there
  *    is no way to tell dim from fact without stats, and the rule backs
  *    off rather than guess;
  *  - the application side does not already carry a Bloom probe on the
  *    same key (makes the rule a fixed point — it runs inside the
  *    operator-optimization batch, which iterates to fixpoint).
  *
  * The both-sides-filtered back-off is deliberately conservative, and it
  * means the rule skips most production fact scans — real fact tables
  * nearly always carry a date/partition predicate, which makes them look
  * "selective" to a stats-free syntactic check. That is by design, not an
  * oversight: guessing wrong would build a Bloom over the 100 TB side.
  *
  * The creation subtree is referenced twice after the rewrite (join side
  * + subquery build), exactly like Spark's own InjectRuntimeFilter; the
  * build is one COMPLETE-mode aggregate over the key column only (the
  * Project prunes the rest), producing a single 16 KiB array row that the
  * subquery broadcasts as a literal into the probe's codegen. */
class AutoBloomJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  import AutoBloomJoinRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "false").toBoolean) return plan
    plan.transformUp {
      case j: Join => tryInject(j).getOrElse(j)
    }
  }

  /** A deterministic filter beyond the inferred IsNotNull noise, and no
    * subquery (a subquery-driven filter's selectivity is opaque). */
  private def selective(p: LogicalPlan): Boolean = p.exists {
    case Filter(c, _) => splitConjunctivePredicates(c).exists(e =>
      e.deterministic && !e.isInstanceOf[IsNotNull] &&
        !SubqueryExpression.hasSubquery(e))
    case _ => false
  }

  private def hasProbe(p: LogicalPlan, key: Expression): Boolean = p.exists {
    case Filter(c, _) => c.exists {
      case BloomMightContain(_, k) => k.semanticEquals(key)
      case _ => false
    }
    case _ => false
  }

  private def tryInject(j: Join): Option[Join] = {
    val cond = j.condition.getOrElse(return None)
    // (leftKey, rightKey) pairs from bigint equi conjuncts
    val keyPairs = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a, b)
          if a.dataType == LongType && b.dataType == LongType &&
            a.deterministic && b.deterministic =>
        if (a.references.subsetOf(j.left.outputSet) &&
            b.references.subsetOf(j.right.outputSet)) Some((a, b))
        else if (b.references.subsetOf(j.left.outputSet) &&
            a.references.subsetOf(j.right.outputSet)) Some((b, a))
        else None
      case _ => None
    }
    if (keyPairs.isEmpty) return None
    val (leftKey, rightKey) = keyPairs.head
    // (creation side, creation key, application side, application key)
    val orientation = j.joinType match {
      case Inner if selective(j.right) && !selective(j.left) =>
        Some((j.right, rightKey, j.left, leftKey, true))
      case Inner if selective(j.left) && !selective(j.right) =>
        Some((j.left, leftKey, j.right, rightKey, false))
      case LeftSemi if selective(j.right) && !selective(j.left) =>
        Some((j.right, rightKey, j.left, leftKey, true))
      case _ => None
    }
    orientation.flatMap { case (creation, ckey, app, akey, appIsLeft) =>
      // the creation subtree is DUPLICATED into the scalar subquery, so it
      // must be fully deterministic — a rand()/sample/limit anywhere in it
      // would build the Bloom from different rows than the join reads and
      // silently drop matching fact rows (the "identical by construction"
      // contract). `selective` already vets one conjunct; this vets the
      // whole subtree.
      val creationDeterministic = creation.find(p =>
        p.expressions.exists(!_.deterministic) ||
          p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sample] ||
          p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalLimit] ||
          p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.GlobalLimit]
      ).isEmpty
      if (hasProbe(app, akey) || !creationDeterministic) None
      else {
        val pruned = Project(ckey.references.toSeq, creation)
        val build = Aggregate(Nil, Seq(Alias(
          AggregateExpression(BloomAgg(ckey), Complete, isDistinct = false),
          "graft_auto_bloom")()), pruned)
        val probed = Filter(BloomMightContain(ScalarSubquery(build), akey), app)
        Some(if (appIsLeft) j.copy(left = probed) else j.copy(right = probed))
      }
    }
  }
}

object AutoBloomJoinRule {
  val EnabledKey = "spark.graft.bloomJoin.enabled"
}
