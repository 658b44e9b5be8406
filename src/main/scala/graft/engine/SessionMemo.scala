package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** The engine's one driver-side result memo (derived counts, at-rest table
  * names, resolved reads, broadcast filters). Shark's rule for cached state:
  * an entry lives and dies with the SparkContext that computed it.
  *  - Keyed on (context, caller key); an entry carries the [[Fs.pathSig]] of
  *    its fixture, and a changed signature recomputes and REPLACES it.
  *  - The context's `ApplicationEnd` drops all of its entries, so a rebuilt
  *    session never gets a table name or broadcast only the old one held.
  *  - `compute` runs outside any lock; its result is published with
  *    `putIfAbsent`/`replace` only if the signature did not move meanwhile.
  *    A losing, replaced or evicted [[Broadcast]] is `destroy()`ed. */
object SessionMemo {
  private final case class Entry(sig: Long, value: Any)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkContext, Any), Entry]()
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** `key`'s value for `spark`'s context; `key` must identify everything
    * `compute` depends on besides `fixture`. */
  def apply[V](spark: SparkSession, key: Any, fixture: String)(compute: => V): V = {
    val sc = spark.sparkContext
    hookEviction(sc)
    val k = (sc, key)
    val sig = Fs.pathSig(fixture)
    val cur = entries.get(k)
    if (cur != null && cur.sig == sig) return cur.value.asInstanceOf[V]
    val v = compute
    if (Fs.pathSig(fixture) != sig) return v // fixture moved mid-build
    publish(k, Entry(sig, v)).asInstanceOf[V]
  }

  @scala.annotation.tailrec
  private def publish(k: (SparkContext, Any), e: Entry): Any = {
    val prev = entries.get(k)
    if (prev == null) {
      if (entries.putIfAbsent(k, e) == null) e.value else publish(k, e)
    } else if (prev.sig == e.sig) { release(e.value); prev.value } // lost the race
    else if (entries.replace(k, prev, e)) { release(prev.value); e.value } // stale
    else publish(k, e)
  }

  /** Drop every entry of `sc`: the routine its `ApplicationEnd` runs. */
  private[graft] def evict(sc: SparkContext): Unit = {
    entries.entrySet.removeIf { e =>
      val ended = e.getKey._1 eq sc
      if (ended) release(e.getValue.value)
      ended
    }
    hooked.remove(sc): Unit
  }

  private[graft] def size: Int = entries.size // over all contexts

  private def hookEviction(sc: SparkContext): Unit =
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evict(sc)
      })

  private def release(v: Any): Unit = v match {
    case b: Broadcast[_] =>
      try b.destroy()
      catch { case scala.util.control.NonFatal(_) => () } // context already gone
    case _ => ()
  }
}
