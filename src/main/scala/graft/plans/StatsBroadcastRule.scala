package graft.plans

import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** q252: the footer-stats catalog wired INTO Catalyst — the optimizer
  * rule form of q248's advice. q248 computed broadcast-vs-shuffle and
  * then executed each join by hand; this rule makes the stock
  * `df.join(other, cond)` plan itself pick the strategy: it walks every
  * un-hinted inner equi-join, estimates each side from the CATALOG (the
  * q239 footer row counts — zero data reads at planning time), and
  * attaches a Catalyst `JoinHint(BROADCAST)` to a side at least 4×
  * smaller than the other (q248's exact-integer advice rule, stated
  * once there and consumed here). Physical planning (`JoinSelection`)
  * then honors the hint — the same mechanism a user's SQL BROADCAST
  * hint comment rides, driven by table statistics instead of hand
  * annotation.
  *
  * This is the 100 TB posture: `spark.sql.autoBroadcastJoinThreshold`
  * sizes relations by FILE BYTES, which a wide table with a tiny
  * projection over-counts and an un-sized view misses entirely; a
  * catalog row count is what a warehouse CBO actually consults
  * (Spark's own CBO does the same from ANALYZE TABLE stats — this rule
  * feeds the decision from the engine's OWN footer walk instead).
  *
  * Scope is deliberately narrow and SOUND-by-abstention:
  *  - a side is estimable only when every scan leaf under it is a
  *    single-root `HadoopFsRelation` whose path basename is a cataloged
  *    table; anything else (in-memory frames, unions, foreign sources)
  *    → no estimate → the join is left untouched;
  *  - the side estimate is the MAX leaf row count — an upper bound for
  *    the filter/project/PK–FK-join shapes the catalog's tables
  *    compose into (filters only shrink; a contained PK–FK join is
  *    bounded by its child side). The broadcast decision consumes the
  *    bound in the safe direction: an over-estimated side is broadcast
  *    LESS eagerly, never more;
  *  - joins already carrying any hint are respected, never overridden.
  *
  * Registered per-query as the only `experimental.extraOptimizations`
  * of a session of the query's own (`Txn.pinnedSession`);
  * the single `graft.GraftExtensions` entry point installs it session-wide (PlannerRules.inject).
  */
case class StatsBroadcastRule(catalog: Map[String, Long],
    // q277: optional per-table file-level stats — each entry is one
    // file's (row count, numeric column envelopes); feeds the
    // overlap BOUND below. Empty = raw-count behavior, unchanged.
    fileStats: Map[String, Seq[(Long, Map[String, (Long, Long)])]] =
      Map.empty)
    extends Rule[LogicalPlan] {

  private def tblOf(leaf: LogicalPlan): Option[String] = leaf match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.toSeq match {
        case Seq(p) =>
          val base = p.getName
          Some(if (base.endsWith(".parquet"))
            base.stripSuffix(".parquet") else base)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** The catalog row-count upper bound for one join side, if every
    * leaf under it is a cataloged parquet table AND the subtree holds
    * no join of its own (r14 ADVICE): a single scan is bounded by its
    * leaf count (filters only shrink), a join-free multi-leaf shape
    * (Union & co.) by the SUM of its leaves; a nested many-to-many
    * join can exceed both, and an UNDER-estimated side is broadcast
    * MORE eagerly — the unsafe direction. Abstain.
    *
    * q277 tightens the single-scan shape with the per-FILE overlap
    * BOUND: when the catalog carries the table's file-level envelopes,
    * a file whose envelope is PROVABLY DISJOINT from some recognized
    * filter conjunct cannot contribute a matching row (the q245
    * unit-overlap rule at the planner), so the side is bounded by the
    * sum of SURVIVING files' row counts. Still a true upper bound —
    * never the q274 uniform-fraction ESTIMATE, which can undercount on
    * skew and would broadcast a too-big side; unrecognized conjuncts
    * keep every file (abstention per conjunct).
    */
  private def sideRows(plan: LogicalPlan): Option[Long] = {
    if (plan.exists(_.isInstanceOf[Join])) return None
    val leaves = plan.collectLeaves()
    val ests = leaves.map(l => tblOf(l).flatMap(catalog.get))
    if (ests.isEmpty || ests.exists(_.isEmpty)) return None
    // one leaf → its count bounds the side (filters/projects only
    // shrink). MULTIPLE leaves with no join can only combine by
    // Union/Intersect/Except-style set ops, which hold up to the SUM
    // of their inputs — max would UNDER-estimate a Union and broadcast
    // a too-big side, the unsafe direction (r16 ADVICE).
    val raw =
      if (leaves.sizeIs == 1) ests.flatten.max else ests.flatten.sum
    val bounded = leaves match {
      case Seq(one) =>
        tblOf(one).flatMap(fileStats.get) match {
          case Some(files) =>
            val preds = Selectivity.filtersOf(plan)
            val surviving = files.filter { case (_, rng) =>
              preds.forall(p =>
                Selectivity.keptFraction(p, rng.get).forall(_._1 > 0L))
            }
            math.min(raw, surviving.map(_._1).sum)
          case None => raw
        }
      case _ => raw
    }
    Some(bounded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, _: InnerLike, _, JoinHint(None, None)) =>
      (sideRows(l), sideRows(r)) match {
        case (Some(el), Some(er)) if el * 4L <= er =>
          j.copy(hint = JoinHint(
            Some(HintInfo(strategy = Some(BROADCAST))), None))
        case (Some(el), Some(er)) if er * 4L <= el =>
          j.copy(hint = JoinHint(
            None, Some(HintInfo(strategy = Some(BROADCAST)))))
        case _ => j
      }
  }
}
