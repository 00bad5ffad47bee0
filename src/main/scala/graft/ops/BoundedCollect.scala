package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, ExprId}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Runtime guard for the driver-side `.collect()` contract: every collect
  * in this library must read a frame whose size is bounded by a catalog /
  * request / iteration count, never by the corpus. Until r9 the bound was
  * comment-enforced only (each site carried a written boundedness
  * argument); one refactor could silently turn a catalog-bounded collect
  * corpus-bounded. Routing the sites through [[rows]] turns the comment
  * into a plan assertion — the same Aggregate/Limit/LocalRelation walker
  * PlanShapeSpec uses to ban unpartitioned corpus windows, applied to the
  * collect's optimized plan at call time.
  *
  * Shape of the check (r12): the walker strips row-preserving /
  * row-reducing nodes (Project/Filter/Sort/Window/…) off the ROOT and
  * lets the topmost output-determining node decide — a corpus-keyed
  * Aggregate there is an outright DENY (its output is corpus-cardinality
  * no matter what bounds sit below it; the pre-r12 `exists` walker let an
  * unrelated inner bound vacuously pass it). Compound shapes recurse
  * PER BRANCH: a join/union is bounded only when every row-contributing
  * branch is bounded (semi/anti by the left alone), so a bound on one
  * branch can no longer vacuously pass an unbounded sibling — the r10
  * exists-walker gap is CLOSED, not just narrowed. Generate (explode)
  * is never accepted: its multiplier is data-sized and can smuggle a
  * collected corpus back out of a bounded frame.
  *
  * The corpus-key rule (r10 gap 1, hardened r12): an Aggregate whose
  * grouping key IS a corpus-identity column does not bound. The check
  * resolves each bare grouping attribute through the plan's alias lineage
  * to its ORIGIN leaf column, so a rename cannot launder `doc_id` past it
  * (`withColumnRenamed("doc_id","k").groupBy("k")` is denied). DERIVED
  * grouping expressions (`doc_id % 2`) are accepted — their cardinality
  * is the expression's range, which the walker cannot know; a
  * corpus-cardinality derivation (`doc_id + 0`) would slip past, which is
  * exactly what the per-site written argument still covers. r10 gap 2
  * stays closed: a bare LocalLimit bounds each PARTITION at k (total
  * k × partitions, grows with the cluster), so only GlobalLimit (and its
  * TakeOrdered physical form) counts. */
object BoundedCollect {

  /** `df.collect()`, but only if the optimized plan is provably bounded
    * below (Aggregate / Limit / literal frame / cached bounded plan).
    * `context` names the call site in the failure message. */
  def rows(df: DataFrame, context: String): Array[Row] = {
    val plan = df.queryExecution.optimizedPlan
    require(bounded(plan),
      s"$context: driver-side collect over a plan with no Aggregate/Limit/" +
        s"literal bound — this collect would scale with the corpus. Add the " +
        s"bounding operator (or collect something else):\n$plan")
    df.collect()
  }

  /** Row-identity columns of the driver tables whose cardinality IS the
    * corpus (TESTDATA.md): a group-by on any of these produces one row
    * per document/vector/event/user/order, so it bounds nothing. */
  private val corpusKeys =
    Set("doc_id", "vec_id", "event_id", "user_id", "l_orderkey")

  /** Resolve a grouping expression to the name of its origin leaf column:
    * strip a top Alias, then follow the plan's Alias chain (collected from
    * every node's expressions) while each hop lands on another bare
    * attribute; a non-attribute hop means the grouping value is DERIVED →
    * None. An attribute with no alias entry is either a leaf column or
    * generated (window/stream/generate output) — fall back to its own
    * name, which keeps the pre-r12 name-based behavior as the floor. */
  private def aliasesOf[P <: QueryPlan[P]](plan: P): collection.Map[ExprId, Expression] = {
    val aliases = scala.collection.mutable.Map.empty[ExprId, Expression]
    plan.foreach(node => node.expressions.foreach(_.foreach {
      case al: Alias => aliases(al.exprId) = al.child
      case _ =>
    }))
    aliases
  }

  private def originName(expr: Expression,
                         aliases: collection.Map[ExprId, Expression]): Option[String] = {
    @tailrec def walk(e: Expression): Option[String] = e match {
      case al: Alias => walk(al.child)
      case ar: AttributeReference =>
        aliases.get(ar.exprId) match {
          case Some(next: AttributeReference) if next.exprId != ar.exprId => walk(next)
          case Some(_: Attribute) | None => Some(ar.name)
          case Some(al: Alias) => walk(al)
          case Some(_) => None // derived under the alias
        }
      case _ => None // derived expression — cardinality unknowable here
    }
    walk(expr)
  }

  /** True when a grouping key list pins output cardinality to the corpus:
    * some bare grouping attribute's origin column is a corpus key. The
    * alias map is built ONCE per plan and shared across the grouping
    * expressions (it was rebuilt per expression before r12's review). */
  private def corpusKeyed[P <: QueryPlan[P]](groupingExprs: Seq[Expression], plan: P): Boolean = {
    lazy val aliases = aliasesOf(plan)
    groupingExprs.exists(g =>
      originName(g, aliases).exists(n => corpusKeys(n.toLowerCase)))
  }

  /** Physical mirror of [[bounded]]'s shape (r12 review: the pre-r12
    * `exists` form let a persisted compound plan launder an unbounded
    * branch past a bounded sibling — caching a plan must not flip the
    * guard's verdict). Walks DOWN the plan: bounding execs decide,
    * joins/unions recurse per branch, GenerateExec is never accepted,
    * any other unary exec (project/filter/sort/exchange/codegen
    * wrappers) defers to its child, leaves deny. */
  private def boundedPhys(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      !corpusKeyed[SparkPlan](a.groupingExpressions, a)
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.RangeExec => true
    // rn<=k over an UNPARTITIONED window — the physical twin of the
    // logical WindowGroupLimit case (a cached mmrDiversify pool collects
    // through this exec, not the logical node); the partitioned form is
    // k×keys — no growth, the child decides
    case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
      if (w.partitionSpec.isEmpty) true else boundedPhys(w.child)
    case a: AdaptiveSparkPlanExec => boundedPhys(a.inputPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      boundedPhys(q.plan)
    case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      boundedPhys(s.relation.cachedPlan)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.joinType match {
        case org.apache.spark.sql.catalyst.plans.LeftSemi |
             org.apache.spark.sql.catalyst.plans.LeftAnti |
             _: org.apache.spark.sql.catalyst.plans.ExistenceJoin =>
          boundedPhys(j.left)
        case _ => boundedPhys(j.left) && boundedPhys(j.right)
      }
    case u: org.apache.spark.sql.execution.UnionExec =>
      u.children.forall(boundedPhys)
    case e: org.apache.spark.sql.execution.ExpandExec => boundedPhys(e.child)
    // an explode's multiplier is data-sized — same deny as logical Generate
    case _: org.apache.spark.sql.execution.GenerateExec => false
    // object/python pipeline execs (r12 advice): the logical walker's
    // deny-by-default rejects every object node, so the physical mirror
    // must not accept them through the unary catch-all. The 1:1 bridges
    // (serialize/deserialize, per-ELEMENT map) defer to the child; any
    // other ObjectProducer (mapPartitions, flatMapGroups, …) and every
    // python eval (pandas UDF map/flatMap) has a data-sized output
    // multiplier — deny outright, keeping the physical walker at least
    // as strict as the logical one.
    case b @ (_: org.apache.spark.sql.execution.SerializeFromObjectExec |
              _: org.apache.spark.sql.execution.DeserializeToObjectExec |
              _: org.apache.spark.sql.execution.MapElementsExec) =>
      boundedPhys(b.children.head)
    case o if o.isInstanceOf[org.apache.spark.sql.execution.ObjectProducerExec] ||
        o.getClass.getName.startsWith("org.apache.spark.sql.execution.python.") =>
      false
    case other if other.children.size == 1 => boundedPhys(other.children.head)
    case _ => false
  }

  /** Strip nodes that cannot GROW the row count off the root, so the
    * topmost output-determining node gets to decide. */
  @tailrec private def topDetermining(p: LogicalPlan): LogicalPlan = p match {
    case n @ (_: Project | _: Filter | _: Sort | _: Window |
              _: SubqueryAlias | _: RepartitionOperation | _: Distinct |
              _: Deduplicate) => topDetermining(n.children.head)
    // a PARTITIONED group limit is k×keys — not itself a bound, but it
    // never grows rows, so the child decides
    case wgl: WindowGroupLimit if wgl.partitionSpec.nonEmpty =>
      topDetermining(wgl.child)
    case other => other
  }

  private[graft] def bounded(p: LogicalPlan): Boolean = topDetermining(p) match {
    // the top aggregate decides OUTRIGHT: corpus-keyed grouping means
    // corpus-cardinality output regardless of any bound below it
    case a: Aggregate => !corpusKeyed[LogicalPlan](a.groupingExpressions, a)
    case _: GlobalLimit => true
    case _: LocalRelation => true
    case _: OneRowRelation => true
    case _: Range => true
    // rn <= k filters over an UNPARTITIONED row_number window optimize to
    // WindowGroupLimit (global bound = k) — the mmrDiversify candidate
    // pool shape (the partitioned form is stripped above)
    case wgl: WindowGroupLimit if wgl.partitionSpec.isEmpty => true
    case imr: InMemoryRelation => boundedPhys(imr.cachedPlan)
    // compound shapes recurse per branch (r12, closing the r10 exists-
    // walker gap for good): a join/union is bounded only when EVERY
    // row-contributing branch is itself bounded — a bound on one branch
    // can no longer vacuously pass an unbounded sibling. Semi/anti/
    // existence joins bound by their left side alone (output ⊆ left).
    // Note a bounded×corpus INNER join is correctly DENIED even when the
    // join key would cap output at corpus size — corpus-sized IS the
    // thing this guard exists to reject.
    case j: Join => j.joinType match {
      case org.apache.spark.sql.catalyst.plans.LeftSemi |
           org.apache.spark.sql.catalyst.plans.LeftAnti |
           _: org.apache.spark.sql.catalyst.plans.ExistenceJoin =>
        bounded(j.left)
      case _ => bounded(j.left) && bounded(j.right)
    }
    case u: Union => u.children.forall(bounded)
    // Expand multiplies rows by a FIXED projection count (grouping sets)
    case e: Expand => bounded(e.child)
    // anything else (Generate — an explode's multiplier is data-sized and
    // can smuggle a collected corpus back out — scans, unknown nodes):
    // not provably bounded
    case _ => false
  }
}
