package graft.tools

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BinaryComparison, Cast, Expression, In, InSet, IsNotNull, Not, StartsWith}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
  FilterExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Full-surface pushdown/pruning audit: at 100 TB the two properties
  * that decide whether a scan reads terabytes or gigabytes are COLUMN
  * PRUNING (ReadSchema ⊆ what the query needs) and PREDICATE PUSHDOWN
  * (data filters evaluated in the parquet reader against row-group
  * stats, not post-scan). Both are visible only in the physical scan
  * node, so a regression — a new wrapper expression that blocks a
  * pushable predicate, a `select *` sneaking upstream of a narrow
  * projection — is silent everywhere else.
  *
  * For every `SparkEntry.queries` entry, for every v1 parquet scan in
  * the STATIC plan (AQE off; cached subtrees descended once per
  * distinct cache — materialization reads what the cache build reads):
  *
  *  - `cols a/b`: columns read vs columns in the file schema. A scan
  *    reading the full width is flagged WIDE when the table is one of
  *    the two widest facts (lineitem, orders: "a scan that reads all
  *    columns for a 2-column projection is wrong"), or when neither
  *    the table (≤ 4 columns) nor the read (≤ 6 columns — events/
  *    documents-shaped tables are consumed near-whole by design in
  *    most corpus operators) is narrow.
  *  - `pushed vs pushable`: the scan's parent-Filter residue (through
  *    the ColumnarToRow/WholeStageCodegen wrappers; IsNotNull atoms
  *    excluded — Spark adds those for free) is classified into
  *    PUSHABLE-SHAPED atoms (bare column or cast-of-column vs
  *    literals — the shapes parquet's filter translation handles) and
  *    structurally untranslatable ones (function-wrapped: length(),
  *    isnan(), key % k — those filter post-scan by nature). A scan
  *    where pushable-shaped atoms outnumber pushed data filters is
  *    flagged NOPUSH: the cast-blocked regression shape, where a
  *    type-mismatched literal silently turns a row-group skip into a
  *    full read.
  *
  * Both are offenders ([[offenders]]); PruneAuditSpec's controls prove
  * the walker sees both failure shapes.
  */
object PruneAudit {
  final case class ScanReport(table: String, colsRead: Int, colsInFile: Int,
    pushedData: Int, parentFilterAtoms: Int, pushableAtoms: Int)

  /** An atom is PUSHABLE-SHAPED iff it is a comparison / IN /
    * prefix-match between a bare column (or a cast of one — the classic
    * SILENT blocker: parquet's filter translation drops cast-wrapped
    * attributes, so a type-mismatched literal quietly turns a row-group
    * skip into a full read) and literals. Function-wrapped predicates
    * (length(text) >= 5, isnan(v), key % 97 = 0) are structurally
    * untranslatable and are NOT counted — they filter post-scan by
    * nature, not by regression. */
  private def bareOrCastAttr(e: Expression): Boolean = e match {
    case _: AttributeReference => true
    case c: Cast => bareOrCastAttr(c.child)
    case _ => false
  }
  private def pushableShaped(e: Expression): Boolean = e match {
    case b: BinaryComparison =>
      (bareOrCastAttr(b.left) && b.right.foldable) ||
        (bareOrCastAttr(b.right) && b.left.foldable)
    case i: In => bareOrCastAttr(i.value) && i.list.forall(_.foldable)
    case i: InSet => bareOrCastAttr(i.child)
    case s: StartsWith => bareOrCastAttr(s.left) && s.right.foldable
    case Not(c) => pushableShaped(c)
    case _ => false
  }

  /** Split a "PushedFilters" metadata payload at top-level commas
    * (nested Or(..,..)/In(.., [..]) commas don't split). */
  private def splitTopLevel(sx: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    sx.foreach {
      case c @ ('(' | '[') => depth += 1; cur += c
      case c @ (')' | ']') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  /** All parquet-scan reports in `root`, with each scan's direct-parent
    * FilterExec atom count (0 when the scan has no Filter parent). */
  def reports(root: SparkPlan): Seq[ScanReport] = {
    val seenCaches = new java.util.IdentityHashMap[SparkPlan, Unit]()
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def walk(p: SparkPlan, parentFilter: Option[FilterExec]): Seq[ScanReport] =
      p match {
        case c: InMemoryTableScanExec =>
          if (seenCaches.containsKey(c.relation.cachedPlan)) Seq.empty
          else {
            seenCaches.put(c.relation.cachedPlan, ())
            walk(c.relation.cachedPlan, None)
          }
        case f: FilterExec => f.children.flatMap(walk(_, Some(f)))
        // transparent wrappers between a Filter and its scan in an
        // executed plan — the Filter is still the scan's post-scan
        // residue through these
        case t @ (_: ColumnarToRowExec | _: InputAdapter |
                  _: WholeStageCodegenExec) =>
          t.children.flatMap(walk(_, parentFilter))
        case s: FileSourceScanExec =>
          val table = s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("<v1>")
          val fileCols = s.relation.dataSchema.fields.length
          val readCols = s.requiredSchema.fields.length
          // pushed DATA filters via the scan's public metadata (the same
          // "PushedFilters: [...]" line .explain prints); IsNotNull
          // excluded (free residue Spark adds to every pushable column)
          val pushed = s.metadata.get("PushedFilters")
            .map(_.stripPrefix("[").stripSuffix("]"))
            .filter(_.nonEmpty)
            .map(splitTopLevel)
            .getOrElse(Seq.empty)
            .map(_.trim)
            .filter(f => f.nonEmpty && !f.startsWith("IsNotNull"))
          val dataAtoms = parentFilter.toSeq.flatMap(f => conjuncts(f.condition))
            .filterNot(_.isInstanceOf[IsNotNull])
          Seq(ScanReport(table, readCols, fileCols, pushed.length,
            dataAtoms.length, dataAtoms.count(pushableShaped)))
        case other =>
          other.children.flatMap(walk(_, None)) ++
            other.subqueries.flatMap(walk(_, None))
      }
    walk(root, None)
  }

  /** The two widest fact tables: every scan of them must prune. */
  private val wideFacts = Set("lineitem.parquet", "orders.parquet")

  /** NOPUSH and WIDE scans in `query`'s static plan. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    reports(qe.executedPlan).flatMap { r =>
      val noPush =
        if (r.pushableAtoms > r.pushedData) Seq(s"NOPUSH ${r.table} " +
          s"pushable=${r.pushableAtoms} pushed=${r.pushedData}")
        else Nil
      val fullWidth = r.colsRead == r.colsInFile &&
        (wideFacts(r.table) || (r.colsInFile > 4 && r.colsRead > 6))
      val wide =
        if (fullWidth) Seq(s"WIDE ${r.table} reads ${r.colsRead}/${r.colsInFile} cols")
        else Nil
      noPush ++ wide
    }.distinct
}
