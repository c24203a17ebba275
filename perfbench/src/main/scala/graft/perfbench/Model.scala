package graft.perfbench

import scala.collection.mutable

import graft.model.{SingletEntryM, TabletRowM}

/** One version of a key or singlet: `value` is null for a tombstone. */
final case class Ver(height: Long, value: String) {
  def live: Boolean = value != null
}

/** One row of a state diff, as the store's `readTabletDiff` returns it. */
final case class DiffRow(pk: String, change: String, height: Long,
    oldValue: String, newValue: String)

/** The benchmark's reference: a plain-Scala fold over the mutations the
  * benchmark generated, never computed by Spark or by the program. Every
  * read the benchmark issues is checked against it.
  *
  * Semantics: last write wins at a height, a tombstone erases the key, the
  * reversible overlay applies in block order above the durable state, and
  * singlet history reads most recent first. */
final class Model {
  // Durable versions per (tablet, key) and per singlet, ascending height.
  private val rows = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Ver]]
  private val keysOf = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  private val singlets = mutable.HashMap.empty[String, mutable.ArrayBuffer[Ver]]
  private var liveCount = 0L

  var checkpoint: Long = -1L
  var durableRows = 0L
  var durableEntries = 0L

  private def value(b: Array[Byte], del: Boolean): String =
    if (del) null else Generator.str(b)

  /** Fold durable tablet rows of ascending heights. */
  def addRows(rs: Seq[TabletRowM]): Unit = rs.foreach { r =>
    val vs = rows.getOrElseUpdate((r.tabletId, r.primaryKey), {
      keysOf.getOrElseUpdate(r.tabletId, mutable.TreeSet.empty[String]) += r.primaryKey
      mutable.ArrayBuffer.empty[Ver]
    })
    require(vs.isEmpty || vs.last.height < r.height,
      s"model: ${r.tabletId}/${r.primaryKey} written out of height order")
    val wasLive = vs.nonEmpty && vs.last.live
    vs += Ver(r.height, value(r.value, r.isDeletion))
    if (wasLive && r.isDeletion) liveCount -= 1
    if (!wasLive && !r.isDeletion) liveCount += 1
    durableRows += 1
  }

  def addEntries(es: Seq[SingletEntryM]): Unit = es.foreach { e =>
    singlets.getOrElseUpdate(e.singletId, mutable.ArrayBuffer.empty[Ver]) +=
      Ver(e.height, value(e.value, e.isDeletion))
    durableEntries += 1
  }

  def keys(tablet: String): Seq[String] =
    keysOf.get(tablet).fold(Seq.empty[String])(_.toSeq)

  /** Latest durable version at or below `h`, tombstones included. */
  def versionAt(tablet: String, pk: String, h: Long): Option[Ver] =
    rows.get((tablet, pk)).flatMap { vs =>
      // Binary search for the last version with height <= h.
      var lo = 0; var hi = vs.length - 1; var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (vs(mid).height <= h) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found < 0) None else Some(vs(found))
    }

  /** Live value of one key as of `h` (a tombstone reads as absent). */
  def rowAt(tablet: String, pk: String, h: Long): Option[Ver] =
    versionAt(tablet, pk, h).filter(_.live)

  /** The serving table's answer: latest irreversible value. */
  def serving(tablet: String, pk: String): Option[Ver] =
    rowAt(tablet, pk, Long.MaxValue)

  /** All live rows of a tablet as of `h`, with `overlay` (reversible blocks'
    * tablet rows, in block order) applied above the durable state. Sorted
    * by primary key. */
  def tabletAt(tablet: String, h: Long,
      overlay: Seq[Seq[TabletRowM]] = Nil): Seq[(String, Ver)] = {
    val state = mutable.TreeMap.empty[String, Ver]
    keys(tablet).foreach(pk => versionAt(tablet, pk, h).foreach(state.update(pk, _)))
    overlay.foreach(_.foreach { r =>
      if (r.tabletId == tablet && r.height <= h)
        state.update(r.primaryKey, Ver(r.height, value(r.value, r.isDeletion)))
    })
    state.iterator.filter(_._2.live).toSeq
  }

  /** Durable history of one singlet, most recent first. */
  def singletHistory(id: String): Seq[Ver] =
    singlets.get(id).fold(Seq.empty[Ver])(_.reverseIterator.toSeq)

  /** Keys of `tablet` that changed between `from` and `to`, classified by
    * their live state at both ends. A key that is absent at both ends
    * (inserted and deleted inside the window) emits nothing. */
  def diff(tablet: String, from: Long, to: Long): Seq[DiffRow] =
    keys(tablet).flatMap { pk =>
      val pre = versionAt(tablet, pk, from)
      val post = versionAt(tablet, pk, to)
      val oldLive = pre.exists(_.live)
      val newLive = post.exists(_.live)
      val change =
        if (!oldLive && newLive) Some("added")
        else if (oldLive && !newLive) Some("deleted")
        else if (oldLive && newLive && post.get.height > from) Some("updated")
        else None
      change.map(c => DiffRow(pk, c, post.get.height,
        if (oldLive) pre.get.value else null, if (newLive) post.get.value else null))
    }

  /** Keys whose latest durable version is live. */
  def liveKeys: Long = liveCount
}
