package graft.tools

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution

/** Full-surface sweep for the SIXTH static-plan hazard class (r15 —
  * generalized from the round's root-caused ×16 broadcast OOM): a JOIN
  * side that is an AGGREGATE over corpus-cardinality group keys with no
  * explicit join-strategy pin. Such a side is AQE-FLIPPABLE: its
  * runtime size consulted by the adaptive broadcast conversion is the
  * COMPRESSED shuffle footprint, and narrow numeric aggregate rows
  * (hash, count) compress ~50×, so a corpus-LINEAR side can sit under
  * the 10 MB adaptive threshold while its deserialized HashedRelation
  * is multi-GB. The flip then ARMS at whatever corpus factor crosses
  * the threshold and fires load-dependently — qSubstringDup's
  * shingle-frequency join-back OOMed the ×16 grown gate exactly this
  * way (BASELINE r15) while every declared-SF run and both solo
  * re-runs passed. A static audit at declared SFs is the only reliable
  * tripwire, because at declared SFs the flip has not armed yet.
  *
  * Criterion, per Join side in the OPTIMIZED logical plan (strategy
  * hints survive there in the Join node itself):
  *  - the side is aggregate-rooted: walking through unary nodes
  *    (Project/Filter/Sort/...) reaches an Aggregate before any leaf
  *    or multi-child node;
  *  - the aggregate's GROUP KEYS are not structurally bounded (see
  *    [[boundedKey]]) — a corpus-cardinality key set means the
  *    aggregate's row count scales with the corpus;
  *  - the side carries no anti-broadcast strategy pin
  *    (SHUFFLE_MERGE / SHUFFLE_HASH / NO_BROADCAST_HASH) and no
  *    explicit BROADCAST hint either (an explicit broadcast of an
  *    unbounded subtree is BroadcastAudit's hazard class — one flag
  *    per class).
  *
  * Group-key boundedness (structural, name-based — weaker than
  * BroadcastAudit's exprId provenance, adequate for a triage tool and
  * documented as such):
  *  - literals; casts/aliases of bounded keys;
  *  - calendar truncations (date_trunc/to_date/year/month/window) of
  *    anything: calendar-bounded — cardinality grows with TIME SPAN,
  *    not corpus volume (a 100 TB corpus over the same years has the
  *    same day count);
  *  - columns whose fixture DOMAIN is a schema constant
  *    ([[boundedDomainCols]]: statuses, priorities, flags, segments,
  *    brands, languages, sources, label classes, nation/region keys);
  *  - anything else — ids, hashes, tokens, free text, arbitrary
  *    arithmetic over measurements — is corpus-cardinality.
  *
  * Sides whose unbounded-keyed aggregate is DECLARED bounded by a
  * written argument elsewhere (the Heaps-law vocabulary tables, the
  * gen-join gram models) are accepted via [[decidedPins]], each entry
  * carrying the argument's anchor; they are PIN findings, never HIT.
  * Only HIT findings are offenders ([[offenders]]).
  */
object AqeFlipAudit {

  /** Fixture columns whose value domain is a schema constant at any SF. */
  val boundedDomainCols: Set[String] = Set(
    "event_type", "o_orderstatus", "o_orderpriority", "l_returnflag",
    "l_linestatus", "c_mktsegment", "p_brand", "p_type", "p_container",
    "p_mfgr", "p_size", "lang", "source", "label", "r_name", "n_name",
    "n_nationkey", "r_regionkey", "c_nationkey", "s_nationkey",
    "n_regionkey")

  /** Calendar functions: outputs bounded by time span, not volume. */
  private val calendarFns = Set("date_trunc", "to_date", "year", "month",
    "dayofmonth", "hour", "minute", "window", "trunc", "quarter",
    "weekofyear", "dayofweek")

  /** exprId → defining expression for every Alias minted in `p`'s
    * Projects/Aggregates/Windows — the lineage map that lets a grouping
    * key named `day`/`cohort_week` resolve to its date_trunc/datediff
    * definition instead of false-flagging as corpus-cardinality. */
  def aliasLineage(p: LogicalPlan): Map[ExprId, Expression] = {
    val out = scala.collection.mutable.Map.empty[ExprId, Expression]
    p.foreach { node =>
      val named: Seq[NamedExpression] = node match {
        case pr: Project => pr.projectList
        case ag: Aggregate => ag.aggregateExpressions
        case w: Window => w.windowExpressions
        case _ => Nil
      }
      named.foreach {
        case a: Alias => out(a.exprId) = a.child
        case _ =>
      }
    }
    out.toMap
  }

  /** Calendar-derived: the expression bottoms out in calendar truncation
    * / day arithmetic of timestamps — cardinality grows with time span,
    * not corpus volume. Arithmetic OVER a calendar value stays
    * calendar-bounded (week = floor(datediff/7), offset = w2 - w1). */
  private def calendarExpr(e: Expression,
      lineage: Map[ExprId, Expression]): Boolean = e match {
    // any DATE-typed value is day-granular — calendar-bounded however it
    // was derived (to_date optimizes to Cast(ts AS date), which would
    // otherwise hide the truncation from the function-name rule)
    case _ if e.dataType == org.apache.spark.sql.types.DateType => true
    case _ if calendarFns(e.prettyName.toLowerCase) => true
    case _: DateDiff | _: DateAdd | _: DateSub | _: SubtractDates => true
    case a: AttributeReference =>
      lineage.get(a.exprId).exists(calendarExpr(_, lineage))
    case a: Alias => calendarExpr(a.child, lineage)
    case c: Cast => calendarExpr(c.child, lineage)
    case b: BinaryArithmetic =>
      b.children.exists(calendarExpr(_, lineage)) &&
        b.children.forall(c => calendarExpr(c, lineage) || c.foldable ||
          boundedKey(c, lineage))
    case _ => false
  }

  def boundedKey(e: Expression, lineage: Map[ExprId, Expression]): Boolean =
    e match {
      case _ if e.foldable => true
      case _ if calendarExpr(e, lineage) => true // incl. date-typed attrs
      case a: AttributeReference =>
        boundedDomainCols(a.name.toLowerCase) ||
          lineage.get(a.exprId).exists(boundedKey(_, lineage))
      case a: Alias => boundedKey(a.child, lineage)
      case c: Cast => boundedKey(c.child, lineage)
      case _ => false
    }

  /** Walk through unary wrappers to the side's root aggregate, if any. */
  @scala.annotation.tailrec
  private def aggRoot(p: LogicalPlan): Option[Aggregate] = p match {
    case a: Aggregate => Some(a)
    case u: UnaryNode => aggRoot(u.child)
    case _ => None
  }

  private def antiBroadcastPin(h: Option[HintInfo]): Boolean =
    h.flatMap(_.strategy).exists {
      case SHUFFLE_MERGE | SHUFFLE_HASH | NO_BROADCAST_HASH => true
      case _ => false
    }
  private def broadcastPin(h: Option[HintInfo]): Boolean =
    h.flatMap(_.strategy).contains(BROADCAST)

  /** Decided pins: unbounded-KEYED aggregate sides whose row count is
    * bounded by a WRITTEN argument at the named anchor. Key = a
    * substring of the hit's group-key rendering, scoped per query. */
  val decidedPins: Map[String, Seq[(String, String)]] = Map(
    // Heaps-law vocabulary/dictionary tables: token-keyed aggregates,
    // sublinear (V ≈ k·N^0.5) with a written broadcast-dial degradation
    // path — TrainingData.vocab scaladoc, spark.graft.vocab.broadcast.
    "q_tfidf" -> Seq(
      "term" -> "term-keyed = vocabulary cardinality, Heaps (TrainingData.vocab)"),
    "q_doc_index" -> Seq("tok" -> "TrainingData.vocab Heaps-law argument"),
    "q_bigram_pmi" -> Seq(
      "a, b" -> "gram model, gen-join decided pin (GenJoinAudit standing)",
      "tok" -> "TrainingData.vocab Heaps-law argument"),
    "q_unigram_logprob" -> Seq(
      "tok" -> "vocab-model join, Heaps-bounded (CorpusFilters scaladoc)"),
    "q_bigram_logprob" -> Seq(
      "prev" -> "gram model, gen-join decided pin (CorpusFilters scaladoc)",
      "tok" -> "vocab-model join, Heaps-bounded (CorpusFilters scaladoc)"),
    "q_dsir_weight" -> Seq(
      "tok" -> "vocab-model join, Heaps-bounded (CorpusFilters scaladoc)"),
    // Calendar-keyed aggregates whose lineage the audit cannot trace
    // through a checkpoint (LogicalRDD) boundary: cardinality grows with
    // TIME SPAN, not corpus volume — a day/week-keyed side is
    // broadcastable at any corpus size over the same years.
    "q_active_users" -> Seq(
      "day" -> "calendar key (to_date day) behind trackedCheckpoint boundary"),
    "q_retention" -> Seq(
      "week" -> "calendar keys (date_trunc week / datediff/7) behind checkpoint"),
    // Bounded graphs / models with written arguments at the operator.
    "q_pagerank" -> Seq(
      "dst" -> "nation graph, <=25 nodes (qPagerank node^2-bounded argument)"),
    "q_lang_id" -> Seq(
      "tok" -> "language n-gram profile model, bounded (qLangId scaladoc)"),
    "q_contamination" -> Seq(
      "gh" -> "eval-suite gram set, bounded at any corpus size (written in-code)"),
    "q_incremental_dedup" -> Seq(
      "doc_id" -> ("batch-bounded candidate/batch sides (qIncrementalDedup " +
        "scaladoc: daily cost O(batch x bands); Bloom-reduction fallback written)")),
    // Band self-joins carrying k-lane signatures: the array payload keeps
    // the compressed-vs-deserialized ratio modest (no 50x betrayal), and
    // the grown gate has run these at x8/x16 with the flip self-correcting
    // to SMJ past the threshold — zero incidents across 15 rounds.
    "q_dedup_minhash" -> Seq(
      "doc_id" -> "signature band self-join; self-correcting crossing, x16-proven"),
    "q_dedup_simhash" -> Seq(
      "doc_id" -> "simhash band self-join; self-correcting crossing, x16-proven"),
    "q_dedup_ngram" -> Seq(
      "a_id" -> ("verify join regime flip DELIBERATE and spec-pinned both " +
        "sides (GrownPlanShapeSpec)")),
    // Mixed-size join where the opposite (supplier-slice) side is the
    // one stats/AQE build: the cost side carries a double column (modest
    // compressibility) and crossing self-corrects to SMJ.
    "q_supplier" -> Seq(
      "l_partkey" -> ("argmin cost table: AQE builds the smaller supplier " +
        "slice; double column bounds the build ratio; crossing self-corrects")))

  final case class Finding(kind: String, detail: String)

  /** All findings for one query's optimized plan. */
  def findings(name: String, plan: LogicalPlan): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    def side(which: String, p: LogicalPlan, hint: Option[HintInfo],
        oppositeHint: Option[HintInfo]): Unit =
      // a side facing an explicitly-BROADCAST opposite side can never be
      // picked as the build side — JoinSelection builds the hinted side
      if (broadcastPin(oppositeHint)) ()
      else aggRoot(p).foreach { a =>
        val lineage = aliasLineage(p)
        val unbounded =
          a.groupingExpressions.filterNot(boundedKey(_, lineage))
        if (unbounded.nonEmpty) {
          val keys = unbounded.map(_.sql).mkString(", ")
          val pin = decidedPins.getOrElse(name, Nil)
            .find { case (sub, _) => keys.toLowerCase.contains(sub) }
          // the strategy decision is JOIN-level: an anti-broadcast hint
          // on EITHER side settles the whole join away from broadcast
          if (antiBroadcastPin(hint) || antiBroadcastPin(oppositeHint))
            out += Finding("PINNED", s"$which agg keyed [$keys] merge/hash-pinned")
          else pin match {
            // a decided written bound also covers an explicit broadcast
            // of the same side (e.g. the bounded eval-suite gram set)
            case Some((_, why)) =>
              out += Finding("PIN", s"$which agg keyed [$keys]: $why")
            case None if broadcastPin(hint) =>
              out += Finding("HIT",
                s"$which agg keyed [$keys] EXPLICITLY BROADCAST — unbounded")
            case None =>
              out += Finding("HIT",
                s"$which agg keyed [$keys] un-pinned — AQE-flippable to broadcast")
          }
        }
      }
    plan.foreach {
      case j: Join =>
        side("left", j.left, j.hint.leftHint, j.hint.rightHint)
        side("right", j.right, j.hint.rightHint, j.hint.leftHint)
      case _ =>
    }
    out.toSeq
  }

  /** HIT findings in `query`'s optimized plan, which does not depend on
    * AQE. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    findings(query, qe.optimizedPlan).filter(_.kind == "HIT").map(_.detail)
}
