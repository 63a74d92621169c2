package graft.tools

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Full-surface sweep for the FIFTH static-plan hazard class (r10
  * verdict, extending GenJoin → Scan → Prune → Window): a pinned
  * `broadcast()` hint on a table that GROWS WITH THE CORPUS. A hint
  * cannot degrade — stats and AQE are overridden — so where an unhinted
  * plan would fall back to a shuffle join past the threshold, the hinted
  * plan is a driver/executor OOM at scale. The r10 hits were
  * q_multimodal's forced broadcast of the corpus-scaled embeddings table
  * and q_join_multi's forced broadcast of customer (both fixed in r11 by
  * dropping the hint — stats pick the identical broadcast plan at every
  * fixture SF); this audits every hint and every future one.
  *
  * Criterion: every broadcast hint in a declared query's ANALYZED
  * logical plan (hints are erased from the optimized/physical plan, so
  * this is the one tree where the audit can see them) must carry a
  * structural boundedness argument — the hinted subtree is bounded iff
  * every root-to-leaf path passes a node whose OUTPUT cardinality does
  * not scale with the corpus:
  *
  *  - an `Aggregate` / `Deduplicate`: a rollup — single-row stats,
  *    per-group cut points, vocabulary/dictionary tables (the Heaps-law
  *    argument TrainingData.vocab documents), eval-suite gram sets;
  *  - a `Limit`: top-k / nprobe probe lists, bounded outright;
  *  - a KEY-PIN `Filter`: a top-level conjunct pinning a bare (or cast)
  *    UNIQUE-KEY column ([[keyTable]]) to literals — `=`, `IN`, or
  *    `<`/`<=` a small numeric literal (≤ [[SmallKeyCap]]), the
  *    probe-set idiom (`vec_id === 0`, `vec_id < 10`: at most that many
  *    rows because the column is unique per row). The unique-key
  *    restriction is load-bearing (r11 ADVICE): an equality pin on a
  *    low-cardinality VALUE column (`lang === 'en'`, `label === 0`,
  *    `l_quantity === 1`) keeps a corpus-sized FRACTION — exactly the
  *    shape the range-predicate exclusion below exists for — so a bare
  *    "any column = literal" rule was a false negative in this hazard
  *    class. Only a column that identifies at most one row per pinned
  *    literal turns a pin into a row bound. A general range predicate
  *    (`n_chars >= 200`) keeps a corpus-sized fraction and does NOT
  *    count either;
  *  - a driver-built literal relation (`LocalRelation`, `Range`,
  *    `OneRowRelation`): IVF centroid tables and kin — k×dim rows by
  *    construction;
  *  - a driver-mediated RDD boundary (`LogicalRDD` / `ExternalRDD`:
  *    createDataFrame / trackedCheckpoint reads): the audit cannot see
  *    through an RDD, so
  *    boundedness is argued at the construction site — every such site
  *    in src/main is a vocab-style dictionary (zipWithIndex ids) or a
  *    checkpointed rollup that passed the r10 bounded-intermediate
  *    decision rule. Same precedent as WindowAudit's RDDScanExec case.
  *  - a scan of a BOUNDED-BY-CONSTRUCTION dimension ([[boundedTables]]:
  *    nation = 25 rows, region = 5 rows at ANY SF). Customer, part,
  *    supplier, orders, lineitem, events, documents, embeddings all
  *    scale with SF and are NOT in this set — that is the whole point.
  *
  * A composite under the hint (e.g. supplier ⋈ nation ⋈ region) is
  * bounded only if ALL its inputs are — a bounded dim joined to an
  * SF-scaled side is SF-scaled, the q_supplier shape r11 also unhinted.
  *
  * Shuffle-direction hints (`shuffle_merge`/`shuffle_hash`) are never
  * flagged: forcing a shuffle is degradation-SAFE (the explode-blind
  * symdel/embed pins are the exception that proves the let-stats-decide
  * rule, and they point away from broadcast).
  */
object BroadcastAudit {
  /** Dimensions whose row count is a schema CONSTANT at any SF. */
  val boundedTables: Set[String] = Set("nation.parquet", "region.parquet")

  /** Unique-key columns of the fixture tables — the ONLY columns an
    * equality/IN/small-range pin may bound on — and the table each is
    * the primary key OF. One entry per table primary key; lineitem is
    * deliberately absent (its key is the composite
    * l_orderkey+l_linenumber — no single column identifies a row).
    * Foreign keys (c_nationkey, l_suppkey, …) are NOT here: pinning one
    * keeps every matching row, a corpus-sized fraction.
    *
    * The table is the provenance half of the criterion (r12 ADVICE): a
    * name-only match would accept `something AS doc_id`, an alias over a
    * derived, possibly non-unique expression. A pin only counts when the
    * pinned AttributeReference's exprId is traced to the OUTPUT of a scan
    * of this table (analyzed plans preserve exprIds through
    * Project/Filter/Join; an Alias mints a fresh exprId, so derived
    * columns fail the trace by construction). */
  val keyTable: Map[String, String] = Map(
    "doc_id" -> "documents.parquet", "vec_id" -> "embeddings.parquet",
    "event_id" -> "events.parquet", "o_orderkey" -> "orders.parquet",
    "c_custkey" -> "customer.parquet", "s_suppkey" -> "supplier.parquet",
    "p_partkey" -> "part.parquet", "n_nationkey" -> "nation.parquet",
    "r_regionkey" -> "region.parquet")

  /** Largest `x < lit` upper bound accepted as a probe-set pin. */
  val SmallKeyCap = 1024L

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A bare (or cast-wrapped) reference to a declared unique-key column
    * whose exprId traces to a scan of the table that column is the key
    * of ([[keyTable]] — `prov` is the exprId→table map
    * collected below the Filter). A pin on any OTHER column — however
    * selective it looks — is not a boundedness argument: only a unique
    * key turns "k pinned literals" into "≤ k rows", and only provenance
    * makes the name mean the key (an aliased derived column named
    * `doc_id` carries no uniqueness). */
  private def keyAttr(e: Expression, prov: Map[ExprId, String]): Boolean =
    e match {
      case a: AttributeReference =>
        keyTable.get(a.name.toLowerCase).exists(t => prov.get(a.exprId).contains(t))
      case c: Cast => keyAttr(c.child, prov)
      case _ => false
    }

  /** exprId → fixture-table provenance for every raw scan column under
    * `p` (LogicalRelation parquet scans and the DSv2 VecBin relation,
    * whose vec_id is the same embeddings key). Aliases are NOT chased:
    * a minted exprId having no entry here is the desired failure mode. */
  private def scanProvenance(p: LogicalPlan): Map[ExprId, String] = {
    val out = scala.collection.mutable.Map.empty[ExprId, String]
    p.foreach {
      case r: LogicalRelation =>
        val t = tableName(r)
        r.output.foreach(a => out(a.exprId) = t)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.name.contains("vecbin") =>
        r.output.foreach(a => out(a.exprId) = "embeddings.parquet")
      case _ =>
    }
    out.toMap
  }

  private def smallLit(e: Expression): Boolean = e.foldable && (e.eval() match {
    case n: Number => n.longValue() <= SmallKeyCap
    case _ => false
  })

  /** A conjunct that pins a UNIQUE-KEY column to a bounded literal set. */
  private def pinAtom(e: Expression, prov: Map[ExprId, String]): Boolean = {
    def k(x: Expression) = keyAttr(x, prov)
    e match {
      case EqualTo(l, r) => (k(l) && r.foldable) || (k(r) && l.foldable)
      case EqualNullSafe(l, r) =>
        (k(l) && r.foldable) || (k(r) && l.foldable)
      case In(v, list) => k(v) && list.forall(_.foldable)
      case i: InSet => k(i.child)
      case LessThan(l, r) => k(l) && smallLit(r)
      case LessThanOrEqual(l, r) => k(l) && smallLit(r)
      case GreaterThan(l, r) => smallLit(l) && k(r)
      case GreaterThanOrEqual(l, r) => smallLit(l) && k(r)
      case _ => false
    }
  }

  private def tableName(r: LogicalRelation): String = r.relation match {
    case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      fs.location.rootPaths.headOption.map(_.getName).getOrElse("<fs>")
    case other => other.getClass.getSimpleName
  }

  /** Structural boundedness of a hinted subtree (see object scaladoc). */
  def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Deduplicate => true
    case _: GlobalLimit | _: LocalLimit => true
    case f: Filter =>
      conjuncts(f.condition).exists(pinAtom(_, scanProvenance(f.child))) ||
        bounded(f.child)
    case _: LocalRelation | _: OneRowRelation | _: Range => true
    // both RDD-boundary shapes: LogicalRDD (createDataFrame over
    // InternalRow/Row, trackedCheckpoint reads) and ExternalRDD (typed
    // createDataFrame — the vocab zipWithIndex dictionaries)
    case _: LogicalRDD => true
    case _: ExternalRDD[_] => true
    case r: LogicalRelation => boundedTables.contains(tableName(r))
    case _: LeafNode => false
    case other => other.children.forall(bounded)
  }

  private def nodeName(p: LogicalPlan): String = p match {
    case r: LogicalRelation => s"Relation(${tableName(r)})"
    case other => other.getClass.getSimpleName
  }

  /** Chain from an unbounded subtree's root down to its first unbounded
    * leaf — the triage trail for a hit. */
  private def chainDown(p: LogicalPlan): List[String] =
    nodeName(p) ::
      p.children.find(c => !bounded(c)).map(chainDown).getOrElse(Nil)

  /** One entry per broadcast hint whose subtree has no boundedness
    * argument: the node chain from the hint to an unbounded leaf. */
  def hits(plan: LogicalPlan): Seq[String] = {
    def walk(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case h: ResolvedHint
            if h.hints.strategy.contains(BROADCAST) && !bounded(h.child) =>
          Seq(("ResolvedHint[broadcast]" :: chainDown(h.child))
            .mkString(" <- "))
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** Unbounded broadcast hints in `query`'s analyzed plan. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    hits(qe.analyzed).distinct
}
