package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one owner of cached-relation lifetime in a session, with two
  * scopes:
  *
  *   - SHARED: [[shared]] evaluates a named build at most once per
  *     (application id, name, key parts) and keeps the result for every
  *     consumer until `release(part)` drops the entries carrying that key
  *     part (a finished corpus's dir). The catalog's cross-query
  *     relations live here.
  *   - SCOPED: operators that return a materialized relation register it
  *     with [[track]]; [[scope]] and `release()` unpersist every
  *     registration, and an LRU bound of [[MaxScoped]] is the backstop
  *     for callers with no release discipline at all.
  *
  * Which scope a tracked relation belongs to is decided here, not by the
  * caller: one tracked while a shared build runs on the same thread
  * belongs to that shared entry and lives as long as it, so a scoped
  * release never evicts a shared relation from under its later consumers.
  */
object SessionCaches {

  // ------------------------------------------------------ shared scope

  /** One shared entry. The map only inserts it; [[get]] runs the build on
    * the caller's thread outside the map's lock, because shared builds
    * nest (the clusters build on the ngram pairs) and a nested
    * `computeIfAbsent` on the same map can throw "Recursive update" or
    * deadlock. The entry's monitor still gives at-most-once evaluation:
    * concurrent first callers block until the build is done.
    */
  private final class Entry {
    /** relations [[track]]ed while this entry's build ran; guarded by itself */
    val owned: ArrayBuffer[Dataset[_]] = ArrayBuffer.empty
    @volatile private var result: Option[Any] = None

    def built: Boolean = result.nonEmpty

    def get(build: => Any): Any = synchronized {
      if (result.isEmpty) {
        building.set(this :: building.get)
        try result = Some(build)
        finally {
          building.set(building.get.tail)
          if (result.isEmpty) unpersist() // a failed build keeps nothing pinned
        }
      }
      result.get
    }

    def unpersist(): Unit = {
      val mine = owned.synchronized { val o = owned.toList; owned.clear(); o }
      (result.toList ++ mine).foreach {
        case d: Dataset[_] => unpersistQuietly(d)
        case _ => ()
      }
    }
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** the shared builds running on this thread, innermost first */
  private val building = ThreadLocal.withInitial[List[Entry]](() => Nil)

  /** The value of `build` for (application id, `name`, `keyParts`), built
    * at most once: two concurrent first callers cannot both run an
    * expensive build and orphan a persisted duplicate. Key parts join on
    * NUL, so distinct tuples cannot alias by concatenation.
    */
  private[graft] def shared[T](spark: SparkSession, name: String, keyParts: String*)
      (build: => T): T = {
    val key = (spark.sparkContext.applicationId +: name +: keyParts).mkString("\u0000")
    entries.computeIfAbsent(key, _ => new Entry).get(build).asInstanceOf[T]
  }

  /** Evict every built shared entry with `part` among its key parts,
    * unpersisting its value and the relations its build tracked. Other
    * corpora stay cached; an evicted key rebuilds on next use. Returns
    * the evicted count.
    */
  private[graft] def release(part: String): Int = {
    var n = 0
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.built && e.getKey.split('\u0000').contains(part)) {
        it.remove()
        e.getValue.unpersist()
        n += 1
      }
    }
    n
  }

  // ------------------------------------------------------ scoped scope

  private val scoped = ArrayBuffer.empty[DataFrame]

  /** Upper bound on persisted scoped relations: [[track]] unpersists the
    * least-recently registered-or-[[touch]]ed one past it, so a loop of
    * dedup-family operators with no release discipline holds O(1) cached
    * relations (DedupeCacheLifecycleSpec pins it). Sized so one operator
    * call (≤ 3 tracked relations) never evicts its own intermediates.
    * Eviction is safe: an unpersisted relation recomputes on a later
    * consume (slower, never wrong).
    */
  val MaxScoped: Int = 8

  /** Register a cached relation an operator hands back: with the shared
    * entry whose build runs on this thread, else with the scoped LRU.
    */
  private[operators] def track(df: DataFrame): DataFrame =
    building.get match {
      case owner :: _ =>
        owner.owned.synchronized { owner.owned += df }
        df
      case Nil => scoped.synchronized {
        // Spark's cache manager keys by CANONICALIZED plan, so two
        // registrations of the same operator over the same input share ONE
        // cache entry — evicting the older registration would unpersist
        // the newer call's cache through that alias. Keep one registration
        // per canonical plan: releasing the newer one unpersists the entry.
        val canon = df.queryExecution.analyzed.canonicalized
        scoped.filterInPlace(_.queryExecution.analyzed.canonicalized != canon)
        scoped += df
        while (scoped.length > MaxScoped) unpersistQuietly(scoped.remove(0))
        df
      }
    }

  /** Registered (still-persisted) scoped relations; always ≤ [[MaxScoped]]. */
  def scopedCount: Int = scoped.synchronized(scoped.length)

  /** LRU touch by canonicalized plan: the operators that CONSUME a
    * caller-supplied tracked relation (an incremental index, a pair
    * relation) call this on entry, so an application interleaving two
    * operator families keeps both hot indexes resident while its cold
    * results are what the bound evicts. A no-op for relations not in the
    * scoped LRU.
    */
  private[operators] def touch(df: DataFrame): Unit =
    scoped.synchronized {
      val canon = df.queryExecution.analyzed.canonicalized
      val i = scoped.indexWhere(_.queryExecution.analyzed.canonicalized == canon)
      if (i >= 0 && i != scoped.length - 1) scoped += scoped.remove(i)
    }

  /** Run `body` — build AND fully consume dedup-family results inside it —
    * then release every scoped relation, on return or exception. The
    * harness loops bracket each catalog query with it. A LAZY result that
    * escapes recomputes its released intermediates (valid, just uncached).
    */
  def scope[A](body: => A): A =
    try body finally release()

  /** Unpersist every scoped relation registered since the last release;
    * shared entries are untouched.
    */
  def release(): Unit = scoped.synchronized {
    scoped.foreach(unpersistQuietly)
    scoped.clear()
  }

  private def unpersistQuietly(d: Dataset[_]): Unit =
    try { d.unpersist(); () }
    catch { case NonFatal(_) => () }
}
