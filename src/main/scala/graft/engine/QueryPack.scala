package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Registry a query category extends: each graded operator registers a
  * named DataFrame builder plus (usually) the equivalent DuckDB oracle SQL.
  * `SparkEntry` aggregates all packs into the driver contract.
  */
trait QueryPack {
  type Q = (SparkSession, String) => DataFrame

  private val reg = mutable.LinkedHashMap.empty[String, (Q, Option[String])]

  /** Every builder first installs graft into the session it is given, so a
    * query runs on any session, not only one a graft harness built, and
    * builds as one query of the session's memo: it owns the frames it
    * pins, until the session builds its next query. */
  private def installed(f: Q): Q = (s, dir) => {
    graft.GraftSession.install(s)
    graft.ops.PlanMemo.query(s)(f(s, dir))
  }

  /** Register an oracle-backed graded query. */
  protected def q(name: String, oracle: String)(f: Q): Unit =
    reg(name) = (installed(f), Some(oracle.stripMargin.trim))

  /** Register a declared query with no SQL-expressible oracle
    * (driver records a weaker rows-only check). */
  protected def qNo(name: String)(f: Q): Unit = reg(name) = (installed(f), None)

  def queries: Map[String, Q] = reg.view.mapValues(_._1).toMap
  def oracles: Map[String, String] =
    reg.collect { case (k, (_, Some(o))) => k -> o }.toMap
  def names: Seq[String] = reg.keys.toSeq
}
