package graft.snapshot

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.read.TemporalReads

/** Snapshot ("TabletIndex") subsystem — reference indexing.go.
  *
  * A snapshot materializes, at a chosen height, the map `primary_key → height
  * of last mutation ≤ at_height` for one tablet (indexing.go:600–667), so an
  * as-of read only scans the tail `(at_height, H]` instead of `[0, H]`
  * (read.go:56–63). This is a *data* optimization, not an engine one: the
  * Spark read path stays a declarative union + argmax, and Catalyst pushes the
  * narrower height bound into the scan — at 100 TB the snapshot turns a
  * full-history shuffle into a bounded incremental one.
  */
object Snapshots {

  /** Build the index rows for one tablet at `atHeight` from scratch (A3,
    * indexing.go:225–302). Tombstoned keys are dropped from the index;
    * `squelch_count` counts every scanned row-version (the reference's
    * SquelchCount). The steady-state path is
    * [[buildTabletIndexIncremental]]; this full-history form is for the
    * FIRST index of a tablet and for operational rebuilds (reindex). */
  def buildTabletIndex(rows: DataFrame, tabletId: String, atHeight: Long): DataFrame = {
    val scoped = rows
      .filter(col("tablet_id") === lit(tabletId) && col("height") <= lit(atHeight))
    TemporalReads
      .latestPerKey(TemporalReads.durable(scoped), Seq("primary_key"), Nil)
      .where(!col("is_deletion"))
      .select(col("primary_key"), col("height"))
      .orderBy("primary_key")
  }

  /** Rows scanned to build the index at `atHeight` (SquelchCount metric). */
  def squelchCount(rows: DataFrame, tabletId: String, atHeight: Long): Long =
    rows.filter(col("tablet_id") === lit(tabletId) && col("height") <= lit(atHeight)).count()

  /** Incremental index build (indexing.go:265–271: startHeight =
    * prev.AtHeight + 1): seed from the PREVIOUS index and aggregate only the
    * tail slice — the whole point of the snapshot subsystem, since a hot
    * tablet's index cost must be bounded by mutations since the last
    * snapshot, not by total history.
    *
    * `tail` must be the mutation rows in `(prevHeight, atHeight]` for the
    * tablet; `prevIndex` the previous snapshot's `(primary_key, height)`
    * rows. Previous-index rows re-enter the argmax as live rows at their
    * recorded heights — all strictly below every tail height, so
    * last-write-wins resolves tail-over-seed exactly as a from-scratch
    * build would (invariant `incremental ≡ from-scratch` is spec-tested).
    * A key tombstoned in the tail drops out; an untouched key keeps its
    * seeded height. */
  def buildTabletIndexIncremental(tail: DataFrame, prevIndex: DataFrame): DataFrame = {
    val seed = prevIndex
      .select(col("primary_key"), col("height"), lit(false).as("is_deletion"))
    val all = tail.select(col("primary_key"), col("height"), col("is_deletion"))
      .unionByName(seed)
    TemporalReads
      .latestPerKey(TemporalReads.durable(all), Seq("primary_key"), Nil)
      .where(!col("is_deletion"))
      .select(col("primary_key"), col("height"))
      .orderBy("primary_key")
  }

  /** Snapshot ∪ tail read (J1, read.go:47–146): hydrate the snapshot as rows
    * (they are by construction live and latest-as-of `snapshotHeight`), union
    * the tail scan `(snapshotHeight, H]`, and resolve last-write-wins. The
    * snapshot rows need their values re-attached: the reference batch-fetches
    * the exact `(pk, height)` keys in 5,000-key chunks (read.go:66–107); here
    * it is an equi-join of the snapshot against the rows table on
    * `(primary_key, height)` — a broadcast join when the snapshot is small.
    *
    * Invariant (verified in tests): result ≡ readTabletAt without a snapshot.
    *
    * `hydrationLowerBound` — pass `min(height)` over the snapshot rows
    * (see [[hydrationBoundOf]]) to bound the hydration SCAN below. Exact
    * by construction: every snapshot pair's height is at least that
    * minimum, so the bound can only drop rows the semi-join would reject
    * anyway. This is what makes the snapshot pay at scale: without it the
    * hydration side re-scans all of history ≤ snapshotHeight just to
    * semi-join it away (measured at 100× history depth: snapshot read ≈
    * full read), while the bound turns it into the
    * `[oldest-live-key-height, snapshotHeight]` band — thin for any
    * tablet whose keys keep mutating, and never worse than the unbounded
    * scan for one that doesn't. The store read path computes it from the
    * parquet-backed snapshot (tiny); the default `None` keeps
    * plan-construction job-free for callers holding an unmaterialized
    * snapshot. */
  def readTabletAtWithSnapshot(
      rows: DataFrame,
      snapshot: DataFrame, // (primary_key, height) as of snapshotHeight
      snapshotHeight: Long,
      tabletId: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil,
      hydrationLowerBound: Option[Long] = None): DataFrame = {
    require(snapshotHeight <= atHeight, s"snapshot $snapshotHeight is past read height $atHeight")
    val scopedRows = rows.filter(col("tablet_id") === lit(tabletId))
    // Hydration: exact-key join, equivalent of the chunked BatchGet. The
    // lower bound is a plain pushable predicate — with height-sorted
    // store files it prunes the hydration scan to the band of row groups
    // actually holding snapshot versions.
    val hydrationScope = hydrationLowerBound match {
      case Some(lo) => scopedRows.filter(col("height") >= lit(lo))
      case None => scopedRows
    }
    val hydrated = hydrationScope
      .join(snapshot.select("primary_key", "height"), Seq("primary_key", "height"), "left_semi")
      .filter(col("height") <= lit(snapshotHeight))
    val tail = scopedRows
      .filter(col("height") > lit(snapshotHeight) && col("height") <= lit(atHeight))
    val all = TemporalReads.withSpeculative(hydrated.unionByName(tail),
      speculative.map(_.filter(
        col("tablet_id") === lit(tabletId) && col("height") <= lit(atHeight))))
    TemporalReads
      .latestPerKey(all, Seq("primary_key"), Seq("value"))
      .where(!col("is_deletion"))
      .select("primary_key", "height", "value")
      .orderBy("primary_key")
  }

  /** `min(height)` over a snapshot's rows — the hydration scan's exact
    * lower bound (see [[readTabletAtWithSnapshot]]). One tiny aggregate;
    * meant for parquet-backed snapshots (the store read path), where it
    * costs a footer-pruned scan of the snapshot files. None for an empty
    * snapshot (hydration is empty anyway; Long.MaxValue prunes it all). */
  def hydrationBoundOf(snapshot: DataFrame): Option[Long] =
    Option(snapshot.agg(min(col("height"))).head().get(0))
      .map(_.asInstanceOf[Long])
      .orElse(Some(Long.MaxValue))

  /** Snapshot-pruned AS-OF JOIN — [[TemporalReads.asOfJoin]] with the same
    * TabletIndex pruning the flagship read gets (read.go:47–63 applied to
    * a BATCH of point lookups): probes for `tabletId` at
    * `at_height >= snapshotHeight` resolve against
    * `snapshot-hydration ∪ tail (snapshotHeight, ∞)` instead of the full
    * history, so per-probe join fan-in is `1 + mutations-since-snapshot`
    * rather than the key's whole history — the difference between O(1)
    * and O(depth) per probe on a long-history tablet, and the tail scan's
    * `height > snapshotHeight` bound is a pushed predicate that row-group-
    * prunes under the height-sorted store layout.
    *
    * Total over ANY probe set: probes for other tablets, or at heights
    * below the snapshot (where the snapshot over-approximates history),
    * route through the unpruned resolve — so the result is always exactly
    * [[TemporalReads.asOfJoin]]'s (spec-pinned equivalence), only the scan
    * bounds differ. Correctness of the split:
    *   - a key LIVE at the snapshot height contributes exactly its latest
    *     mutation ≤ snapshotHeight via hydration; any tail mutation
    *     (including a tombstone) out-ranks it in the argmax by height;
    *   - a key TOMBSTONED at the snapshot height is absent from the index
    *     (tombstones are dropped at build), absent from hydration, and
    *     yields null unless the tail revives it — identical to the
    *     full-history argmax, where the tombstone would have won;
    *   - a key never written yields the left join's null row either way.
    *
    * Assumes at most one mutation per (key, height) on the snapshot path —
    * the store write path's dedup invariant (T4); the generic
    * same-height-conflict tie-break of [[TemporalReads.asOfJoin]] needs
    * the full candidate set and keeps working on the fallback route. */
  def asOfJoinWithSnapshot(
      rows: DataFrame,
      probes: DataFrame, // (probe_id, tablet_id, primary_key, at_height)
      snapshot: DataFrame, // (primary_key, height) as of snapshotHeight
      snapshotHeight: Long,
      tabletId: String,
      hydrationLowerBound: Option[Long] = None,
      // Source for the FALLBACK route (other tablets / pre-snapshot /
      // null probes); defaults to `rows`. The store passes a separately
      // bounded scan here — and an empty relation when it has PROVED the
      // fallback probe set is empty, so the plan never lists the deep
      // history's files at all (the eligible route's file list is floored
      // at the hydration bound but a shared source would drag every
      // pre-snapshot file into the union anyway).
      fallbackRows: Option[DataFrame] = None): DataFrame = {
    // Null-safe split: a probe with a null tablet_id or at_height makes the
    // predicate NULL, and `filter(p)`/`filter(!p)` would BOTH drop it —
    // losing the probe entirely instead of resolving it to the null row
    // asOfJoin emits. `<=> true` folds NULL into the fallback route.
    val eligible =
      (col("tablet_id") === lit(tabletId) &&
        col("at_height") >= lit(snapshotHeight)) <=> lit(true)
    val scoped = rows.filter(col("tablet_id") === lit(tabletId))
    val hydrationScope = hydrationLowerBound match {
      case Some(lo) => scoped.filter(col("height") >= lit(lo))
      case None => scoped
    }
    val hydrated = hydrationScope
      .join(snapshot.select("primary_key", "height"),
        Seq("primary_key", "height"), "left_semi")
      .filter(col("height") <= lit(snapshotHeight))
    val tail = scoped.filter(col("height") > lit(snapshotHeight))
    val pruned = TemporalReads.asOfResolve(
      hydrated.unionByName(tail), probes.filter(eligible))
    val fallback = TemporalReads.asOfResolve(
      fallbackRows.getOrElse(rows), probes.filter(!eligible))
    pruned.unionByName(fallback).orderBy("probe_id")
  }

  /** The reference's index-build throttling heuristic, exactly
    * (indexing.go:546–575):
    *   - < 25K mutations since the last index → never index.
    *   - ≥ 25K mutations and no previous index → index.
    *   - previous index ≤ 50K rows → index.
    *   - previous index in (50K, 200K] rows → index iff mutations > rows/2.
    *   - previous index > 200K rows → index iff mutations ≥ 100K.
    */
  def shouldTriggerIndexing(
      previousIndexRowCount: Option[Long],
      mutationCount: Long,
      minMutations: Long = 25000L): Boolean = {
    if (mutationCount < minMutations) return false
    previousIndexRowCount match {
      case None => true
      case Some(rows) if rows > 50000L =>
        val halfRow = rows / 2
        if (halfRow <= 100000L) mutationCount > halfRow
        else mutationCount >= 100000L
      case Some(_) => true
    }
  }

  /** Index retention prune (PruneTabletIndexes, indexing.go:328–396) —
    * exactly the reference's policy:
    *   - `pruneFrequency` must be > 1 (indexing.go:329–331);
    *   - a tablet with ≤ pruneFrequency + 2 snapshots is left untouched
    *     (indexing.go:352–356 — first and last are always kept, so there is
    *     nothing worth thinning);
    *   - otherwise the first and last snapshots are kept, the middle is
    *     walked from HIGHEST height to lowest, and every
    *     `pruneFrequency`-th one is DELETED (indexing.go:363–380) — i.e.
    *     the prune removes 1/k of the intermediates, keeping the rest.
    * Returns the snapshot heights to KEEP, ascending. */
  def pruneRetention(snapshotHeights: Seq[Long], pruneFrequency: Int): Seq[Long] = {
    require(pruneFrequency > 1, s"prune frequency must be greater than 1, got $pruneFrequency")
    if (snapshotHeights.size <= pruneFrequency + 2) snapshotHeights.sorted
    else {
      val sorted = snapshotHeights.sorted
      val (first, last) = (sorted.head, sorted.last)
      val middleDesc = sorted.slice(1, sorted.size - 1).reverse
      val keptMiddle = middleDesc.zipWithIndex.collect {
        case (h, i) if (i + 1) % pruneFrequency != 0 => h
      }
      ((first +: keptMiddle :+ last).distinct).sorted
    }
  }

  /** Driver-side mutation counters per tablet (indexing.go:486–583's
    * indexCache): tracks mutations since the last snapshot and decides which
    * tablets to re-index after each commit. Small (one counter per hot
    * tablet), lives on the driver like the reference's in-process cache. */
  /** `minMutations` defaults to the reference's 25,000-mutation floor
    * (indexing.go:549–552); embedders tune it for their mutation rate. */
  final class IndexCache(minMutations: Long = 25000L) {
    // Synchronized: with asynchronous index maintenance the commit thread
    // increments while the maintenance thread polls/records — tiny
    // driver-side maps, the lock is never held across a Spark job.
    private val counters = scala.collection.mutable.Map.empty[String, Long]
    private val lastIndexRows = scala.collection.mutable.Map.empty[String, Long]

    def increment(tabletId: String, mutations: Long): Unit = synchronized {
      counters.update(tabletId, counters.getOrElse(tabletId, 0L) + mutations)
    }

    /** Record a completed build. `coveredMutations` = how many mutations
      * the build's scan actually covered (incremental tail count, or the
      * full-history squelch) — the counter SUBTRACTS that instead of
      * resetting, so mutations committed while an ASYNC build ran at an
      * earlier pinned floor keep the tablet eligible (a blind reset would
      * leave the head permanently one snapshot stale under continuous
      * traffic). None (the crash-replay resync, where the split is
      * unknowable) resets. */
    def recordIndexed(tabletId: String, indexRowCount: Long,
        coveredMutations: Option[Long] = None): Unit = synchronized {
      lastIndexRows.update(tabletId, indexRowCount)
      counters.update(tabletId, coveredMutations.fold(0L)(c =>
        math.max(0L, counters.getOrElse(tabletId, 0L) - c)))
    }

    /** Eligible tablets, MOST-OVERDUE FIRST (pending-mutation count
      * descending, name as tiebreak): callers that cap builds per batch
      * ([[graft.streaming.IngestionPipeline]]) then always serve the
      * tablet whose reads are farthest from a useful snapshot. */
    def tabletsToIndex(): Seq[String] = synchronized {
      counters.collect {
        case (tablet, muts)
            if shouldTriggerIndexing(lastIndexRows.get(tablet), muts, minMutations) =>
          tablet
      }.toSeq.sortBy(t => (-counters(t), t))
    }

    def mutationCount(tabletId: String): Long =
      synchronized(counters.getOrElse(tabletId, 0L))
  }
}
