package graft.ext

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one memo for expensive-to-build values that are pure in
  * (session, key): the registry's prepared queries and the shared bases
  * several queries consume (shingles, minhash signatures, CC labels,
  * co-purchase edges, the IVF index).
  *
  * Registry code persists through [[PersistRecorded.persistRecorded]]
  * only: it persists the Dataset and records it in the innermost build
  * running on the current thread. When a build returns, its entry keeps
  * the value plus the recorded Datasets that are still persisted
  * (relations the build released itself drop out). Every hit, nested or
  * not, re-arms those persists in build order if a `clearCache` dropped
  * them, and appends them to the enclosing build's record — so an outer
  * entry owns the persists of every shared base it consumed, and its
  * hits re-arm them too. Without the re-arm, a relation persisted inside
  * a memoized build would silently recompute its whole subtree on every
  * action after the first `clearCache`.
  *
  * The memo holds one session. A build in another session first
  * unpersists the held entries' persists, then drops them: callers that
  * cycle sessions (a fresh `newSession()` per round) retain one
  * session's entries, not one per session ever seen.
  */
private[graft] object SessionMemo {

  /** A memoized value and the persists it owns, in build order. */
  private final class Entry(val value: AnyRef, val persists: Vector[Dataset[_]])

  /** What one running build has recorded: `own` are its own
    * [[PersistRecorded.persistRecorded]] calls; `all` adds the persists
    * of the nested entries it hit or built.
    */
  private final class Frame {
    val all = ArrayBuffer.empty[Dataset[_]]
    val own = ArrayBuffer.empty[Dataset[_]]
  }

  private final class Held(val session: SparkSession) {
    val entries = new ConcurrentHashMap[String, Entry]()
  }

  @volatile private var held = new Held(null)
  private val frames = ThreadLocal.withInitial[List[Frame]](() => Nil)

  implicit final class PersistRecorded[T](private val ds: Dataset[T]) extends AnyVal {
    /** `persist()` that the innermost running memo build owns: its hits
      * re-arm it, its eviction unpersists it.
      */
    def persistRecorded(): Dataset[T] = {
      ds.persist()
      frames.get.headOption.foreach { f => f.all += ds; f.own += ds }
      ds
    }
  }

  private def armed(ds: Dataset[_]): Boolean = ds.storageLevel != StorageLevel.NONE

  private def record(persists: Seq[Dataset[_]]): Unit =
    frames.get.headOption.foreach(_.all ++= persists)

  /** A hit: re-arm what a `clearCache` dropped, credit the caller. */
  private def hit[A](e: Entry): A = {
    e.persists.foreach(ds => if (!armed(ds)) ds.persist())
    record(e.persists)
    e.value.asInstanceOf[A]
  }

  /** The entries of `s`, after evicting another session's. */
  private def heldFor(s: SparkSession): Held = {
    val h = held
    if (h.session eq s) h
    else synchronized {
      val old = held
      if (!(old.session eq s)) {
        if (old.session != null && !old.session.sparkContext.isStopped)
          old.entries.values.forEach(_.persists.foreach(_.unpersist(blocking = false)))
        held = new Held(s)
      }
      held
    }
  }

  /** Memoized build of a pure (session, key) value.
    *
    * Deliberately NOT `computeIfAbsent`: builds nest (Graph.components →
    * edgeRelations → halfPairs; a registry entry → Dedup.clusterIds →
    * minhashSig), and a nested `computeIfAbsent` on one map throws
    * "Recursive update" whenever the inner key hashes into the outer
    * key's reserved bin. get-then-build-then-putIfAbsent is race-safe
    * because values are pure: the first published value wins, and the
    * losing build unpersists only the persists it made itself that the
    * winner does not also hold (a plan-equal persist shares the
    * winner's cache entry).
    */
  def get[A <: AnyRef](s: SparkSession, key: String)(build: => A): A = {
    val h = heldFor(s)
    val cached = h.entries.get(key)
    if (cached != null) hit(cached)
    else {
      val frame = new Frame
      frames.set(frame :: frames.get)
      val value = try build finally frames.set(frames.get.tail)
      val built = new Entry(value, frame.all.distinct.filter(armed).toVector)
      // a build that outlived its session's eviction is returned, not stored
      val prior = if (held eq h) h.entries.putIfAbsent(key, built) else null
      if (prior == null) { record(built.persists); value }
      else {
        val winners = prior.persists.map(_.queryExecution.analyzed)
        frame.own.distinct.filter(armed)
          .filterNot(ds => winners.exists(_.sameResult(ds.queryExecution.analyzed)))
          .foreach(_.unpersist(blocking = false))
        hit(prior)
      }
    }
  }

  /** The session whose entries the memo holds, and their keys. */
  private[graft] def heldEntries: (SparkSession, Set[String]) = {
    val h = held
    (h.session, h.entries.keySet.toArray(Array.empty[String]).toSet)
  }
}
