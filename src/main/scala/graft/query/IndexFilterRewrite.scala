package graft.query

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Contains, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{BlockDocIds, IceTable, StepInfo}
import graft.krep.{AsciiFold, KrepContains}

/** Evaluation-transparent marker around a filter conjunct the rewrite has
  * already served: same value, same nullability, same codegen as its child.
  * Its only purpose is the rule's fixpoint — predicate pushdown re-exposes
  * the rewritten `Filter(cond, relation)` shape every optimizer iteration,
  * and the marker is what stops the rule firing twice on the same conjunct
  * (see [[IndexFilterRewrite.Rule]]).
  */
case class IndexServed(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): IndexServed =
    copy(child = c)
  override def prettyName: String = "index_served"
}

/** Automatic `krep_contains(text, 'lit')` → inverted-index lookup rewrite —
  * the plan-level analog of the reference's kernel selector: the user writes
  * the filter, the engine picks the physical strategy (krep.c:1771-1870, the
  * user never chooses the kernel; SURVEY.md §4's one custom
  * `Rule[LogicalPlan]`).
  *
  * A SQL/DataFrame filter `krep_contains(text, p)` (or the native `Contains`
  * that [[graft.krep.SimplifyKrepContains]] lowers it to) over a REGISTERED
  * indexed corpus becomes
  * {{{
  *   Filter(cond, corpus LEFT SEMI JOIN candidateDocIds ON docId)
  * }}}
  * where candidateDocIds = postings ⨝ (dict terms CONTAINING the folded
  * pattern) exploded to docIds. The original predicate is RETAINED above the
  * semi join (recheck discipline, same as the phrase path): the index prunes,
  * the predicate decides — so the rewrite can never change an answer, only
  * the plan.
  *
  * Soundness gate (when is the candidate set a superset of the matches): the
  * pattern must be non-empty and consist solely of word bytes
  * ([[AsciiFold.isWordByte]] — the tokenizer's own alphabet), so every
  * occurrence in any text lies inside one maximal word-byte run = one token,
  * and the folded token — a dict term of the doc — contains the folded
  * pattern. Holds for case-sensitive, case-insensitive and whole-word
  * matching (the recheck restores the exact semantics); multi-pattern OR
  * qualifies when every pattern does (candidates = union over the
  * patterns' dict matches). Regex, patterns with non-word bytes (spanning
  * token boundaries), and explicit `algo` kernel overrides stand down — the
  * `--algo` contract is that the forced kernel executes
  * ([[graft.krep.SimplifyKrepContains]] precedent, krep.c:1786-1795) — and
  * so do UNSELECTIVE patterns (substring of a hot dict term taken at
  * [[register]] time), for which the scan filter is the cheaper access path.
  *
  * Scale shape: the matching termIds come from the snapshot's [[TermDict]]
  * (driver CPU, or one columnar pass over the dict — the relation ~5 orders
  * smaller than the corpus — when the dict is too big to hold); postings
  * prune to those termIds; the semi join's build side is distinct docIds,
  * sized by the pattern's true selectivity, and AQE picks broadcast-semi vs
  * shuffle at runtime. A selective pattern skips the per-row pattern work
  * for every non-candidate doc; an unselective one is caught by the
  * hot-term gate at plan time and keeps the plain scan filter (see
  * [[register]]).
  */
object IndexFilterRewrite {

  private final case class Entry(ice: IceTable,
      snapshot: scala.collection.Map[String, StepInfo],
      corpusFiles: Set[String],
      hotTerms: Array[String],
      dict: TermDict,
      // the gate this entry was built with — a re-register with a different
      // gate must rebuild, not silently keep the old one
      maxCandidateFrac: Double)

  /** Registered corpora, keyed by index root. */
  private val entries = new ConcurrentHashMap[String, Entry]

  /** Register the index at `root` (pinned to its CURRENT snapshot — the
    * engine-pinning discipline) and install the rule on the session. Filters
    * over that snapshot's corpus files are rewritten from then on.
    *
    * Cost floor (`minCorpusDocs`): below this corpus size the rewrite stands
    * down entirely — the semi-join machinery (dict resolution, candidate
    * explode + distinct, the join itself) costs more than the codegen'd scan
    * filter it would replace when the whole corpus scans in milliseconds.
    * `minCorpusDocs = 0` disables it (tests and plan-assert rows that must
    * observe the firing register with 0).
    *
    * Selectivity gate (`maxCandidateFrac`): the rewrite is an access-path
    * CHOICE, and for an unselective pattern it is the wrong one — when the
    * candidate docId set approaches the corpus, the semi join's build side
    * stops being broadcastable and the join degenerates into shuffling the
    * full corpus to prune almost nothing, strictly worse at 10^12 docs than
    * the codegen'd scan filter it replaced. Since candidates = postings of
    * every dict term CONTAINING the pattern, any single hot term already
    * lower-bounds the candidate count; registration therefore takes the
    * terms with df > maxCandidateFrac·N from the snapshot's [[TermDict]]
    * (at register time, never at plan time) and the rule stands down when a
    * pattern is a substring of any of them. At most
    * [[TermDict.HotTermCap]] hot terms are kept; with the default frac,
    * Σdf ≤ N·avgDistinctTerms caps the number of qualifying terms at
    * ~8·avgDistinctTerms, far under the cap. Both gates are cost
    * heuristics, not soundness conditions — both plans return identical
    * rows — and `maxCandidateFrac = 1.0` disables the selectivity gate.
    */
  def register(spark: SparkSession, root: String,
      maxCandidateFrac: Double = 0.125,
      minCorpusDocs: Long = 100000L): Unit = {
    install(spark)
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    val snap = ice.completedSteps
    val nDocs = snap("docs").rowCount
    if (nDocs < minCorpusDocs) { entries.remove(root); return }
    // re-registering an unchanged snapshot with an unchanged gate is a
    // no-op: callers re-register per query defensively
    val prev = entries.get(root)
    if (prev != null && prev.snapshot.get("dict") == snap.get("dict") &&
        prev.snapshot.get("corpus") == snap.get("corpus") &&
        prev.maxCandidateFrac == maxCandidateFrac) return
    val cs = snap("corpus")
    val files = cs.files.map { case (f, _) => normalize(s"${cs.table}/$f") }.toSet
    val dict = TermDict.of(spark, ice, snap)
    val hot =
      if (maxCandidateFrac >= 1.0) Array.empty[String]
      else dict.hotTerms(math.max(1L, (nDocs * maxCandidateFrac).toLong))
    entries.put(root, Entry(ice, snap, files, hot, dict, maxCandidateFrac))
  }

  def deregister(root: String): Unit = entries.remove(root)

  /** Install the optimizer rule on an already-running session (idempotent —
    * same mechanism as [[graft.krep.KrepExtensions.install]]).
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(Rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ Rule

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Non-empty and all word bytes — the token-boundary soundness gate. */
  private def indexablePattern(p: String): Boolean = {
    val b = p.getBytes(StandardCharsets.UTF_8)
    b.nonEmpty && b.forall(AsciiFold.isWordByte)
  }

  private def foldAscii(p: String): String =
    new String(p.getBytes(StandardCharsets.UTF_8).map(AsciiFold.fold),
      StandardCharsets.UTF_8)

  /** Name of the candidate plan's output attribute. */
  private val CandAttr = "__graft_cand_docid"

  object Rule extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
      with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (entries.isEmpty) return plan
      plan.transformUp {
        case f @ Filter(cond, child) =>
          rewrite(f, cond, child).getOrElse(f)
      }
    }

    /** The rule's fixpoint is the PER-CONJUNCT [[IndexServed]] marker: this
      * rule runs in a fixed-point batch WITH PushDownPredicate — the
      * emitted Filter(cond, Join) gets its predicate pushed back under the
      * semi join, re-exposing Filter(krep_contains, relation) to the next
      * iteration, which would splice a second identical candidate join
      * under the first (observed in round 5: optimizer-iteration-many
      * nested semi joins, correct answers, ~100x the index work). A served
      * conjunct is wrapped in the evaluation-transparent marker, which
      * [[qualifying]] no longer matches, so each qualifying conjunct fires
      * AT MOST ONCE — and unlike round 5's plan-global attribute-name grep,
      * a SECOND indexed filter elsewhere in the tree (another conjunct,
      * another corpus read) still takes the index path with exactly one
      * candidate join of its own, and a user column that happens to be
      * named `__graft_cand_docid` cannot suppress the rewrite.
      */
    private def rewrite(f: Filter, cond: Expression,
        child: LogicalPlan): Option[Filter] =
      for {
        rel <- leafRelation(child)
        entry <- findEntry(rel)
        docId <- child.output.find(_.name == "docId")
        // every conjunct that the index can serve AND that passes the
        // selectivity gate: a pattern inside a hot term pulls that term's
        // whole postings into the candidate set, so the scan filter is the
        // better access path for it (see register's scaladoc) — but another
        // selective conjunct of the same filter still prunes for the whole
        // conjunction (semi-join candidates are a superset of ITS matches,
        // hence of the AND's)
        conjuncts = splitConjunctivePredicates(cond)
        served = conjuncts.flatMap { c =>
          qualifying(c, child)
            .map(_.map(foldAscii).distinct)
            .filter(fs => !entry.hotTerms.exists(t => fs.exists(t.contains(_))))
            .map(fs => (c, fs))
        }
        if served.nonEmpty
      } yield {
        // EVERY qualifying conjunct is served in this one firing — each
        // gets its own candidate semi join (each prunes independently; the
        // intersection of candidate sets is a superset of the AND's
        // matches), and each is marked so no conjunct ever fires twice
        val chosen = served.map(_._1).toSet
        val joined = served.foldLeft(child) { case (acc, (_, folded)) =>
          val cand = candidatePlan(SparkSession.active, entry, folded)
          Join(acc, cand, LeftSemi,
            Some(EqualTo(docId, cand.output.head)), JoinHint.NONE)
        }
        val marked = conjuncts
          .map(c => if (chosen(c)) IndexServed(c) else c)
          .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
        Filter(marked, joined)
      }

    /** The filter's input must be the registered corpus relation itself (or
      * a pure-attribute projection of it). Anything else stands down. NOTE:
      * this alone does NOT make the rule a fixpoint — predicate pushdown
      * re-exposes the shape it rejects (see the served-marker guard in
      * apply, which is the actual termination argument).
      */
    private def leafRelation(child: LogicalPlan): Option[LogicalRelation] =
      child match {
        case lr: LogicalRelation => Some(lr)
        case Project(projList, lr: LogicalRelation)
            if projList.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
        case _ => None
      }

    private def findEntry(rel: LogicalRelation): Option[Entry] = {
      val files = rel.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
        case _ => Seq.empty
      }
      val norm = files.map(normalize)
      if (norm.isEmpty) None
      else entries.values.asScala.find(e => norm.forall(e.corpusFiles.contains))
    }

    /** A conjunct the index can serve: literal containment over THE indexed
      * text column, no regex, no kernel override, patterns inside the token
      * alphabet.
      */
    private def qualifying(e: Expression,
        child: LogicalPlan): Option[Seq[String]] = e match {
      case KrepContains(a: AttributeReference, p)
          if isTextAttr(a, child) && !p.regex && p.algo == "auto" &&
            p.maxCount > 0 && p.patterns.forall(indexablePattern) =>
        Some(p.patterns)
      case Contains(a: AttributeReference, Literal(s: UTF8String, StringType))
          if isTextAttr(a, child) && indexablePattern(s.toString) =>
        Some(Seq(s.toString))
      case _ => None
    }

    private def isTextAttr(a: AttributeReference, child: LogicalPlan): Boolean =
      a.name == "text" && child.outputSet.contains(a)

    /** Candidate docIds as an analyzed+optimized subplan, built fresh per
      * firing (fresh exprIds, so two rewrites in one query never collide):
      * dict terms containing any folded pattern → their posting blocks →
      * exploded, distinct docIds. The rule runs no job unless the dict is
      * too big to hold on the driver ([[TermDict.Scanned]]); dict terms are
      * folded, so one case-SENSITIVE containment match of the folded
      * patterns serves both original case modes, and wholeWord is dropped
      * (a mid-token occurrence still names candidate terms; the retained
      * predicate enforces boundaries).
      */
    private def candidatePlan(spark: SparkSession, e: Entry,
        folded: Seq[String]): LogicalPlan = {
      val postings = e.ice.readSteps(spark, e.snapshot, "postings")
        .select(col("termId"), col("docs"), col("n"))
      // plan-time termId resolution through the snapshot's dict: the
      // `termId IN (...)` predicate pushes down to the postings parquet
      // scan, whose files are (termId, docId)-sorted, so row-group min/max
      // pruning reads only the matching terms' blocks
      val pruned = postings.filter(col("termId").isin(
        e.dict.matchingTermIds(folded).map(java.lang.Long.valueOf).toSeq: _*))
      val docIds = GraftSqlBridge.column(BlockDocIds(
        GraftSqlBridge.expression(col("docs")),
        GraftSqlBridge.expression(col("n"))))
      pruned
        .select(explode(docIds).as(CandAttr))
        .distinct()
        .queryExecution.optimizedPlan
    }
  }
}
