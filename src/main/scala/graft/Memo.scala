package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

/** The one per-application memo: every derived value graft builds once
  * per session and source vintage — inferred source schemas
  * ([[Tables]]), stored-asset serve handles ([[graft.sim.IndexStore]]),
  * broadcast-gate decisions ([[Joins]]), trained BPE merges and the
  * connected-component results — goes through [[apply]].
  *
  * A SLOT names what is memoized (its caller's own key: a table path, an
  * index directory, a plan hash); a VINTAGE names which version of the
  * sources it was built from (a [[graft.sim.IndexStore.vintage]] string,
  * or `""` where the slot's key already pins the data). Each slot holds
  * at most one entry, (applicationId, vintage, value):
  *  - a hit is a map lookup with no lock;
  *  - a miss takes the slot's lock, rechecks (a thread that waited while
  *    another built the same vintage serves that value, so concurrent
  *    first callers run the build once), builds, and REPLACES the slot's
  *    entry — a superseded vintage can never hit again;
  *  - a miss also drops every entry of another applicationId: Spark
  *    allows one live SparkContext per JVM, so a foreign app is a
  *    stopped one whose values (DataFrame handles carry their session)
  *    would otherwise stay pinned for the JVM's lifetime.
  * Sessions made by `spark.newSession()` share the SparkContext, hence
  * the applicationId, hence every entry.
  *
  * Builds may nest (a warehouse fact's build serves its dims through
  * their own slots); the locks are per slot and the eviction sweep
  * takes none, so nesting cannot deadlock unless a build asks for its
  * own slot.
  */
object Memo {

  private final case class Entry(app: String, vintage: String, value: Any)

  /** slot → its current entry (null until built, or after eviction);
    * the AtomicReference is also the slot's build lock. */
  private val slots = new ConcurrentHashMap[Any, AtomicReference[Entry]]()

  /** The value memoized in `slot` for this application and `vintage`,
    * running `build` on a miss (see the object scaladoc). */
  def apply[T](spark: SparkSession, slot: Any, vintage: String)(build: => T): T =
    forApp(spark.sparkContext.applicationId, slot, vintage)(build)

  /** [[apply]] under an explicit applicationId — the spec surface for
    * eviction, since one JVM cannot run a second live application. */
  private[graft] def forApp[T](app: String, slot: Any, vintage: String)(build: => T): T = {
    val ref = slots.computeIfAbsent(slot, _ => new AtomicReference[Entry]())
    def current: Option[T] = Option(ref.get)
      .collect { case e if e.app == app && e.vintage == vintage => e.value.asInstanceOf[T] }
    current.getOrElse(ref.synchronized {
      current.getOrElse {
        slots.values.forEach { r =>
          val e = r.get
          // compare-and-set: a slot rebuilt for this app meanwhile keeps its entry
          if (e != null && e.app != app) r.compareAndSet(e, null)
        }
        val value = build
        ref.set(Entry(app, vintage, value))
        value
      }
    })
  }

  /** Test hook: every live entry, slot → (applicationId, vintage). */
  private[graft] def entries: Map[Any, (String, String)] = {
    import scala.jdk.CollectionConverters._
    slots.asScala.toMap.flatMap { case (slot, r) =>
      Option(r.get).map(e => slot -> (e.app, e.vintage))
    }
  }
}
