package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model._
import graft.read.TemporalReads
import graft.store.{Footers, StateStore}
import graft.store.ManifestTable.{withJobLabel, withLocalProperty}

/** A raw block as it arrives from the stream: payload plus fork metadata.
  * `step` mirrors bstream's New/Irreversible steps (pipeline.go:110–137). */
final case class StreamedBlock(
    id: String,
    parentId: String,
    num: Long,
    step: String, // "new" | "irreversible"
    tabletRows: Seq[TabletRowM],
    singletEntries: Seq[SingletEntryM])

object StreamedBlock {
  val StepNew = "new"
  val StepIrreversible = "irreversible"
}

/** Structured-Streaming ingestion (reference pipeline.go, SURVEY.md §3.2).
  *
  * Shape: `readStream(blocks) → filter(blockFilter) → map(blockMapper) →
  * writeStream.foreachBatch(commit)` with a ~1 s trigger — the Spark
  * equivalent of the reference's flush-every-5,000-rows-or-1 s batching
  * (pipeline.go:369–431).
  *
  * Fork handling (T1/T2/T5): `StepNew` blocks are linked into the driver-side
  * [[ForkDB]]; only `StepIrreversible` blocks reach durable storage, so forks
  * never touch Parquet and a reorg is just a different overlay branch — no
  * deletes. "Irreversible" plays the role of the watermark: data behind LIB is
  * immutable.
  *
  * Exactly-once (§7.4 risk 6): `foreachBatch` re-delivery is idempotent via
  * the `isNextBlock` linearity guard — a replayed batch whose heights are at
  * or below the checkpoint is skipped, mirroring write.go:331–347.
  */
final class IngestionPipeline(
    store: StateStore,
    blockFilter: StreamedBlock => Boolean = _ => true,
    indexMinMutations: Long = 25000L,
    maxIndexBuildsPerBatch: Int = 2,
    asyncIndexMaintenance: Boolean = false)(implicit spark: SparkSession) {

  require(maxIndexBuildsPerBatch >= 1,
    s"maxIndexBuildsPerBatch must be >= 1, got $maxIndexBuildsPerBatch")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The fork tree, its LIB seeded from the store's durable checkpoint:
    * after a restart (or a backfill handoff) the first `new` blocks link
    * onto the block the store already holds, so they join the overlay
    * instead of dangling off an unknown parent. */
  val forkDB = new ForkDB
  store.checkpoint(StateStore.GlobalCheckpointKey).foreach(cp =>
    forkDB.moveLIB(BlockRef(cp.blockId, cp.blockNum)))

  /** Index maintenance (write.go:64–69, indexing.go:32–98): per-tablet
    * mutation counters; tablets that cross the reference's heuristic get a
    * fresh TabletIndex snapshot built and written in the same commit flow. */
  val indexCache = new graft.snapshot.Snapshots.IndexCache(indexMinMutations)


  /** Commit one micro-batch.
    *
    * Division of labor (the scale-critical part): the driver sees only
    * small state — per-block fork METADATA (id, parent, num, step) and the
    * payloads of reversible (`StepNew`) blocks, which the reference bounds
    * to the ~300-block reversible segment (pipeline.go:110). The BULK of
    * the batch — the irreversible mutation rows — never touches the
    * driver: executors filter, flatten, and write them straight to the
    * store's committed-batch directory. This mirrors the reference, where
    * only the serial handler is single-threaded, not the write fan-out
    * (pipeline.go:133–137, store/kv/store.go:359–450). */
  private[graft] def commitBatch(batch: Dataset[StreamedBlock], batchId: Long): Unit = {
    val bf = blockFilter // local val: don't serialize `this` into closures
    // Pin ONE evaluation of the batch for all three consumers below
    // (metadata + StepNew payload collect, tablet-row write, singlet-entry
    // write): without it each consumer re-evaluates the source, so a
    // nondeterministic blockFilter or source re-read could commit rows
    // that disagree with the checkpoint/metadata — and even the good case
    // scans the source 3x per batch.
    //
    // FULL-ROW dedup before anything else: an at-least-once source — the
    // catch-up ∪ live seam of [[JoiningSource.joined]], a redelivering
    // Kafka topic — may hand the SAME block to one micro-batch more than
    // once. Byte-identical redeliveries collapse here (per-batch only, no
    // streaming state; cross-batch duplicates are already dropped by the
    // checkpoint linearity guard below). Deliberately full-row, not
    // by-id: two frames with one id but DIFFERING payloads are corruption,
    // not redelivery — both survive the dedup and the contiguity guard
    // fails the batch loudly, exactly as before.
    val filtered = batch.filter(bf).dropDuplicates().persist()
    try commitPinned(filtered) finally filtered.unpersist()
  }

  private def commitPinned(filtered: Dataset[StreamedBlock]): Unit = {
    import spark.implicits._

    // (1) ONE collect — per block, its fork linkage plus per-tablet
    // mutation COUNTS and the singlet-entry count (the index heuristic and
    // write-skipping need numbers, not payloads), and the payload of
    // reversible (`StepNew`) blocks only: bounded by the fork window (the
    // reference caps the reversible segment at ~300 blocks,
    // pipeline.go:110), it feeds the driver-side ForkDB for speculative
    // overlays. Irreversible payloads are NEVER collected.
    val meta = withJobLabel(spark, "pipeline.meta") {
      filtered
        .map(b => (b.id, b.parentId, b.num, b.step,
          b.tabletRows.groupBy(r => (r.tabletId, r.collection))
            .map { case ((t, c), rs) => (t, c, rs.size.toLong) }.toSeq,
          b.singletEntries.size.toLong,
          Option(b).filter(_.step == StreamedBlock.StepNew)))
        .collect()
        .sortBy { case (_, _, num, step, _, _, _) => (num, step != StreamedBlock.StepNew) }
    }
    if (meta.isEmpty) return
    meta.foreach {
      case (_, _, _, step, _, _, _)
          if step != StreamedBlock.StepNew && step != StreamedBlock.StepIrreversible =>
        throw new IllegalArgumentException(s"unknown step: $step")
      case _ => ()
    }
    meta.foreach {
      case (id, parentId, num, _, _, _, Some(b)) =>
        forkDB.addLink(BlockRef(id, num), parentId,
          WriteRequest(num, BlockRef(id, num), b.tabletRows, b.singletEntries))
      case (id, _, num, _, _, _, None) =>
        forkDB.moveLIB(BlockRef(id, num))
    }

    // (2) Irreversible data, written distributed. Idempotent replay: drop
    // heights already checkpointed (store.checkpoint is O(1) after the
    // first call — single-writer cache warmed from the durable log).
    val cp = store.checkpoint(StateStore.GlobalCheckpointKey).map(_.height).getOrElse(-1L)
    val irrMeta = meta
      .filter { case (_, _, num, step, _, _, _) => step == StreamedBlock.StepIrreversible && num > cp }
    if (irrMeta.isEmpty) return
    val (lo, hi) = (irrMeta.head._3, irrMeta.last._3)
    require(
      irrMeta.toSeq.sliding(2).forall {
        case Seq(a, b) => b._3 == a._3 + 1
        case _         => true
      },
      "non-contiguous irreversible heights in batch")
    require(
      store.isNextBlock(StateStore.GlobalCheckpointKey, lo),
      s"batch head $lo does not follow checkpoint ${StateStore.GlobalCheckpointKey}")

    // Per-tablet totals from the collected metadata — no extra Spark job.
    val tabletCounts = irrMeta.iterator.flatMap(_._5)
      .toSeq.groupBy(t => (t._1, t._2))
      .map { case ((tablet, collection), ts) => (tablet, collection, ts.map(_._3).sum) }
      .toSeq
    val hasEntries = irrMeta.exists(_._6 > 0)
    val batchDir = f"b$lo%017d-$hi%017d"
    val irr = filtered.filter(b => b.step == StreamedBlock.StepIrreversible && b.num > cp)
    if (tabletCounts.nonEmpty)
      store.writeTabletRows(
        irr.flatMap(_.tabletRows).toDF(StateStore.tabletRowCols: _*), batchDir)
    if (hasEntries)
      store.writeSingletEntries(
        irr.flatMap(_.singletEntries).toDF(StateStore.singletEntryCols: _*), batchDir)
    // Checkpoint last — the durability barrier (write.go:40–72).
    val (headId, _, headNum, _, _, _, _) = irrMeta.last
    store.writeCheckpoint(Checkpoint(StateStore.GlobalCheckpointKey, hi, headId, headNum))

    // (3) Index maintenance: bump per-tablet counters from the metadata
    // counts and snapshot any tablet past the trigger heuristic, pinned at
    // the batch head height (so snapshot ∪ tail reads stay consistent).
    tabletCounts.foreach { case (tablet, coll, n) =>
      collectionOf.put(tablet, coll)
      indexCache.increment(tablet, n)
    }
    // CAPPED index maintenance: under uniform traffic every tablet
    // crosses the 25k-mutation heuristic in the SAME batch, and building
    // all of them serially inside one commit stalls ingestion for the
    // sum of the builds — soak-measured at 5k rows/s x 16 tablets as a
    // 50-60 s ingest stall every ~80 s (commit lag sawtoothing to ~500
    // blocks), each build being a handful of small Spark jobs. Building
    // at most K per batch amortizes the same work across batches (the
    // rest STAY eligible — counters only reset on build — and
    // tabletsToIndex serves the most-overdue first), holding per-batch
    // commit latency near the trigger cadence. The threshold is a
    // heuristic, not a contract: a tablet indexes a few batches later at
    // exactly the same consistency (reads fall back to the previous
    // snapshot + a slightly longer tail until then).
    //
    // ASYNC (`asyncIndexMaintenance = true`): builds leave the commit
    // path entirely — the commit only bumps counters and signals the
    // maintenance thread, which builds at the same cap with the same
    // pinned-floor discipline the compactor uses (pin the last COMMITTED
    // checkpoint height, read only data at or below it — immutable by
    // the linearity guard — and write the snapshot at that height;
    // deterministic commit names make replays/races a skip). This
    // removes the residual per-batch build slot from commit latency;
    // consistency is unchanged because reads never require a snapshot,
    // they only get faster once one lands.
    if (asyncIndexMaintenance) signalMaintenance()
    else indexCache.tabletsToIndex().take(maxIndexBuildsPerBatch)
      .foreach(t => buildIndexFor(t, collectionAt(t), hi))

    // (4) Periodic head consistency probe (time-gated; two small reads
    // per manifest table per interval) — the operational detector for
    // stale-writer clobber damage on a store that does not honor the
    // conditional-create contract.
    maybeHeadCheck()
  }

  private val collectionOf =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def collectionAt(tablet: String): Int =
    collectionOf.getOrDefault(tablet, 0)

  // Maintenance observability: last build's wall time, completed-build
  // count, and (on demand) backlog depth — surfaced as PipelineMetrics
  // gauges so an operator reads maintenance health off the listener bus
  // instead of log-grepping.
  private val lastBuildMillis = new java.util.concurrent.atomic.AtomicLong(-1L)
  private val buildsCompleted = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (backlog depth, last build wall-millis or -1, builds completed). */
  def maintenanceStats: (Int, Long, Long) =
    (indexCache.tabletsToIndex().size, lastBuildMillis.get(), buildsCompleted.get())

  // ------------------------------------------------- periodic head check
  // [[StateStore.verifyHeads]] is the ONLY detector for the damage a
  // store without conditional create can admit (a stale publisher's
  // blind sidecar overwrite landing after a publish — documented in
  // README's store-requirements table). Running it only in specs and at
  // soak exit means an operator on a misconfigured store finds out at an
  // audit; running it here, time-gated on the commit path, means they
  // find out within minutes. Cost: two small metadata reads per manifest
  // table per interval — invisible at any commit cadence.

  private val headChecksClean = new java.util.concurrent.atomic.AtomicLong(0L)
  private val headChecksDamaged = new java.util.concurrent.atomic.AtomicLong(0L)
  private val lastHeadCheckMs = new java.util.concurrent.atomic.AtomicLong(-1L)
  @volatile private var lastHeadProblemVar: Option[String] = None

  /** The most recent damage report (sticky until a clean check clears
    * it), for operators following up a nonzero damaged gauge. */
  def lastHeadProblem: Option[String] = lastHeadProblemVar

  /** (clean checks, damaged checks, last-check epoch millis or -1) —
    * surfaced as PipelineMetrics gauges beside the contention counters. */
  def headCheckStats: (Long, Long, Long) =
    (headChecksClean.get(), headChecksDamaged.get(), lastHeadCheckMs.get())

  /** Run the head cross-check NOW; returns the problems (empty = clean)
    * and updates the gauges. Never throws — a failed check is a logged
    * gauge, not a failed commit. */
  def headCheckNow(): Seq[String] = {
    val problems =
      try store.verifyHeads()
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn("head consistency check failed to run — will retry " +
            "next interval", e)
          return Seq.empty // ran into IO trouble: neither clean nor damaged
      }
    lastHeadCheckMs.set(System.currentTimeMillis())
    if (problems.isEmpty) {
      headChecksClean.incrementAndGet()
      lastHeadProblemVar = None
    } else {
      headChecksDamaged.incrementAndGet()
      lastHeadProblemVar = Some(problems.mkString("; "))
      problems.foreach(p => log.error(
        s"HEAD CONSISTENCY CHECK FAILED — a published generation's sidecar " +
          s"was overwritten after its publish (is this store honoring the " +
          s"conditional-create contract? see README store requirements): $p"))
    }
    problems
  }

  /** [[IngestionPipeline.headCheckIntervalMillis]] gate, piggybacked on
    * every commit (both sync and async maintenance modes commit): no-op
    * until the interval elapses, so the probe cost is per-interval, not
    * per-batch. */
  private def maybeHeadCheck(): Unit = {
    val interval = IngestionPipeline.headCheckIntervalMillis
    if (interval <= 0L) return
    val last = lastHeadCheckMs.get()
    val now = System.currentTimeMillis()
    if ((last < 0L || now - last >= interval) &&
        lastHeadCheckMs.compareAndSet(last, now)) {
      headCheckNow()
      ()
    }
  }

  /** Build (or incrementally extend) `tablet`'s snapshot pinned at `hi`
    * — the reference's TabletIndex write (write.go:64–69), shared by the
    * in-commit and async maintenance paths. */
  private def buildIndexFor(tablet: String, coll: Int, hi: Long): Unit = {
    val t0 = System.nanoTime()
    // Duration stamps even a failed attempt (it still held the slot);
    // the completion counter counts only builds that actually landed.
    try {
      buildIndexForInner(tablet, coll, hi)
      buildsCompleted.incrementAndGet()
    } finally lastBuildMillis.set((System.nanoTime() - t0) / 1000000L)
  }

  private def buildIndexForInner(tablet: String, coll: Int, hi: Long): Unit = {
    // The new snapshot's row count comes from the footers of the
    // directory its write produced (or found already written): no count
    // job, and the index DataFrame has the write as its only consumer.
    def written(dir: String): Long =
      Footers.rowCount(spark.sessionState.newHadoopConf(), dir)
    withJobLabel(spark, "index.lookup")(store.latestTabletSnapshotMeta(tablet, hi)) match {
      case Some((prevH, prevSquelch, prevIdx)) if prevH < hi =>
        // Steady state — INCREMENTAL (indexing.go:265–271): seed from the
        // previous snapshot and scan only the tail (prevH, hi]. Cost is
        // bounded by mutations since the last index, never by history.
        // The tail is pinned so its one scan feeds both the squelch
        // count and the argmax; squelch carries forward as prev + tail.
        val tail = store.tabletRowsPruned(Seq(
            graft.store.ManifestTable.StatsEq("tablet_id", tablet),
            graft.store.ManifestTable.StatsGte("height", prevH + 1),
            graft.store.ManifestTable.StatsLte("height", hi)))
          .filter(
            col("tablet_id") === lit(tablet) &&
              col("height") > lit(prevH) && col("height") <= lit(hi)).persist()
        try {
          val tailCount = withJobLabel(spark, "index.tail")(tail.count())
          val idx = graft.snapshot.Snapshots.buildTabletIndexIncremental(tail, prevIdx)
          val dir = withJobLabel(spark, "index.write")(
            store.writeTabletSnapshot(idx, tablet, hi, prevSquelch + tailCount, coll))
          indexCache.recordIndexed(tablet, written(dir), Some(tailCount))
        } finally tail.unpersist()
      case Some((_, _, prevIdx)) =>
        // Already indexed at exactly `hi` (crash-replayed batch): the
        // snapshot write would be a deterministic skip — just resync the
        // cache counters.
        indexCache.recordIndexed(tablet,
          withJobLabel(spark, "index.lookup")(prevIdx.count()))
      case None =>
        // First index of this tablet: one full-history build, with the
        // scanned slice pinned so the squelch count is not a second scan.
        val scoped = store.tabletRowsPruned(Seq(
            graft.store.ManifestTable.StatsEq("tablet_id", tablet),
            graft.store.ManifestTable.StatsLte("height", hi)))
          .filter(
            col("tablet_id") === lit(tablet) && col("height") <= lit(hi)).persist()
        try {
          val squelch = withJobLabel(spark, "index.tail")(scoped.count())
          val idx = graft.snapshot.Snapshots.buildTabletIndex(scoped, tablet, hi)
          val dir = withJobLabel(spark, "index.write")(
            store.writeTabletSnapshot(idx, tablet, hi, squelch, coll))
          indexCache.recordIndexed(tablet, written(dir), Some(squelch))
        } finally scoped.unpersist()
    }
  }

  // ----------------------------------------------- async index maintenance
  // One daemon thread per pipeline, started lazily on the first signal.
  // Scheduler-pool isolated (effective under FAIR mode, like the ingest
  // query itself) so its Spark jobs never queue ahead of commit jobs.
  // Single-writer safety: with async enabled the commit path never builds,
  // so this thread is the store's ONLY snapshot writer while the pipeline
  // runs — the same one-writer-per-table discipline every maintenance
  // surface keeps.

  /** Per-THREAD run flag: each maintenance-thread generation owns its
    * own flag, so a stop whose join times out (an in-flight build
    * outliving the wait) can never be undone by the NEXT start — with a
    * shared flag, the old thread would re-read `running = true` after
    * its build and keep looping beside the new thread, double-building
    * and double-subtracting counters. The old thread exits at its next
    * check of ITS OWN (permanently false) flag. */
  private final class MaintFlag { @volatile var running = true }
  private val maintLock = new Object
  private var maintThread: Option[(Thread, MaintFlag)] = None
  // STOP LATCH: once stopIndexMaintenance() ran, later signals (batches
  // of a still-running stream) must NOT resurrect the thread — without
  // the latch a stop during a live stream was silently undone by the
  // next batch's signal. Cleared only by an explicit resume. Guarded by
  // maintLock.
  private var maintStopped = false

  private def signalMaintenance(): Unit = maintLock.synchronized {
    if (maintStopped) return
    // Restart on DEATH too, not just absence: a killed daemon (stray
    // interrupt during a wait, OOM-adjacent error) must not silently end
    // index maintenance for the pipeline's lifetime while signals keep
    // notifying a corpse.
    if (maintThread.forall(!_._1.isAlive)) {
      if (maintThread.isDefined)
        log.warn("async index maintenance thread died — restarting")
      val flag = new MaintFlag
      val t = new Thread(() => maintenanceLoop(flag), "graft-index-maint")
      t.setDaemon(true)
      maintThread = Some((t, flag))
      t.start()
    }
    maintLock.notifyAll()
  }

  private def maintenanceLoop(flag: MaintFlag): Unit =
    IngestionPipeline.inPool(spark, "graft-index-maint") {
      while (flag.running) {
        try {
          val pending = indexCache.tabletsToIndex().take(maxIndexBuildsPerBatch)
          if (pending.isEmpty) {
            maintLock.synchronized { if (flag.running) maintLock.wait(1000L) }
          } else pending.foreach { tablet =>
            if (flag.running) {
              // Pin the floor per build: the last COMMITTED height. Data
              // at or below it is immutable (checkpoint linearity), so
              // the build races nothing; the snapshot's deterministic
              // commit name makes a duplicate build a skip.
              val hi = store.checkpoint(StateStore.GlobalCheckpointKey)
                .map(_.height).getOrElse(-1L)
              if (hi >= 0L)
                try buildIndexFor(tablet, collectionAt(tablet), hi)
                catch {
                  case _: InterruptedException => flag.running = false
                  case scala.util.control.NonFatal(e) =>
                    log.warn(s"async index build failed for tablet $tablet " +
                      "at height " + hi + " — will retry (tablet stays " +
                      "eligible; reads fall back to the previous snapshot " +
                      "+ tail)", e)
                    // Don't hot-loop on a persistent failure.
                    maintLock.synchronized {
                      if (flag.running) maintLock.wait(1000L) }
                }
            }
          }
        } catch {
          // NOTHING may escape the loop — an InterruptedException out of
          // a wait, or any other surprise, would otherwise kill the
          // daemon silently. Interrupt = stop; anything else warns and
          // the loop continues.
          case _: InterruptedException => flag.running = false
          case scala.util.control.NonFatal(e) =>
            log.warn("async index maintenance iteration failed — continuing", e)
        }
      }
    }

  /** Stop the async maintenance thread (no-op when never started or
    * synchronous). In-flight build finishes; pending tablets stay
    * eligible — counters persist in [[indexCache]], so a later pipeline
    * (or a manual reindex) picks them up. A thread whose in-flight build
    * outlives `joinMillis` still exits at its next flag check and can
    * never be resurrected (the flag is per-thread). STICKY: later batches
    * of a still-running stream cannot restart maintenance — only
    * [[resumeIndexMaintenance]] clears the stop. */
  def stopIndexMaintenance(joinMillis: Long = 30000L): Unit = {
    val t = maintLock.synchronized {
      maintStopped = true
      val cur = maintThread
      cur.foreach(_._2.running = false)
      maintLock.notifyAll()
      maintThread = None
      cur
    }
    t.foreach(_._1.join(joinMillis))
  }

  /** Clear a sticky [[stopIndexMaintenance]]: the next commit's signal
    * starts a fresh maintenance thread again. */
  def resumeIndexMaintenance(): Unit =
    maintLock.synchronized { maintStopped = false }

  /** Test/soak hook: true when no tablet is currently past the index
    * heuristic — i.e. the maintenance backlog is drained. */
  private[graft] def indexBacklogEmpty: Boolean =
    indexCache.tabletsToIndex().isEmpty

  /** Wire a streaming Dataset of blocks into the store. */
  def start(
      blocks: Dataset[StreamedBlock],
      checkpointLocation: String,
      triggerMillis: Long = 1000L): StreamingQuery =
    // Own scheduler pool (effective when the session runs
    // spark.scheduler.mode=FAIR; a no-op under the FIFO default): a
    // co-located downstream subscription (serving merge, backfill) can
    // queue multi-second jobs, and under FIFO those BLOCK this pipeline's
    // micro-batch jobs — measured in the sustained soak as the 1 s
    // ingest trigger stalling 60–80 s behind one serving merge, with the
    // stall self-reinforcing (bigger batch → longer merge → longer
    // stall). FAIR + per-query pools keeps ingest latency flat no matter
    // what maintenance runs beside it.
    IngestionPipeline.inPool(spark, "graft-ingest") {
      blocks.writeStream
        .option("checkpointLocation", checkpointLocation)
        .trigger(Trigger.ProcessingTime(triggerMillis))
        .foreachBatch { (b: Dataset[StreamedBlock], id: Long) => commitBatch(b, id) }
        .start()
    }

  /** Speculative overlay for a read at block `refId` — feeds
    * TemporalReads' `speculative` argument (fluxdb.go:110–115). The whole
    * reversible segment is ONE pre-ranked frame (see [[tabletOverlay]]);
    * None when `refId` connects to no tracked branch. */
  def speculativeTabletRows(refId: String): Option[Seq[DataFrame]] =
    forkDB.speculativeWrites(refId).map(tabletOverlay)

  /** Singlet-entry speculative overlay for a read at block `refId` — feeds
    * the `speculative` argument of `readSingletEntryAt`/`readSingletEntries`
    * (read.go:333–345, 385–393), completing the facade pair with
    * [[speculativeTabletRows]]. */
  def speculativeSingletEntries(refId: String): Option[Seq[DataFrame]] =
    forkDB.speculativeWrites(refId).map(singletOverlay)

  /** A reversible segment's tablet rows as ONE frame carrying
    * `source_rank` = 1 + block index — the rank TemporalReads would tag
    * block i's frame with — so a head read over N reversible blocks
    * plans one local relation instead of N unioned ones. Empty segment
    * (or one without tablet rows): no frame. */
  private def tabletOverlay(ws: Seq[WriteRequest]): Seq[DataFrame] = {
    import spark.implicits._
    val rows = ws.zipWithIndex.flatMap { case (req, i) =>
      req.tabletRows.map(r =>
        (r.collection, r.tabletId, r.height, r.primaryKey, r.value, r.isDeletion, i + 1))
    }
    if (rows.isEmpty) Nil
    else Seq(rows.toDF(StateStore.tabletRowCols :+ TemporalReads.SourceRankCol: _*))
  }

  /** [[tabletOverlay]]'s singlet twin. */
  private def singletOverlay(ws: Seq[WriteRequest]): Seq[DataFrame] = {
    import spark.implicits._
    val rows = ws.zipWithIndex.flatMap { case (req, i) =>
      req.singletEntries.map(e =>
        (e.collection, e.singletId, e.height, e.value, e.isDeletion, i + 1))
    }
    if (rows.isEmpty) Nil
    else Seq(rows.toDF(StateStore.singletEntryCols :+ TemporalReads.SourceRankCol: _*))
  }

  /** `FetchSpeculativeWrites` parity (pipeline.go:228–265): resolve an
    * optional request block — by id, by BARE num in the current chain, or
    * None for the whole overlay — with the reference's NotReady /
    * RequestedBlockNotFound error semantics. */
  def fetchSpeculativeWrites(request: Option[BlockRef] = None): SpeculativeFetch =
    forkDB.fetchSpeculativeWrites(request)

  /** [[fetchSpeculativeWrites]] resolved straight to the tablet-row
    * overlay — one pre-ranked frame for the whole segment (see
    * [[tabletOverlay]]) — with the reference's error outcomes raised as
    * exceptions — the shape the SQL branch-read TVF needs
    * (fluxdb.go:110–140: the server read resolves its block ref through
    * the fork tree before the KV read runs). */
  def speculativeTabletRowsFor(request: Option[BlockRef]): Seq[DataFrame] =
    tabletOverlay(overlayWritesFor(request))

  /** [[speculativeTabletRowsFor]]'s SINGLET twin — the overlay frame a
    * fork-branch `readSingletEntryAt`/`readSingletEntries` wants
    * (read.go:300–349 point read, 356–408 speculative-first history),
    * with the same error outcomes. */
  def speculativeSingletEntriesFor(request: Option[BlockRef]): Seq[DataFrame] =
    singletOverlay(overlayWritesFor(request))

  /** Shared branch resolve for the two overlay shapes: the reference's
    * NotReady / RequestedBlockNotFound outcomes as loud errors. */
  private def overlayWritesFor(request: Option[BlockRef]): Seq[WriteRequest] =
    fetchSpeculativeWrites(request) match {
      case SpeculativeFetch.Writes(ws, _) => ws
      case SpeculativeFetch.NotReady => throw new IllegalStateException(
        "speculative read not ready: no block processed yet (ErrNotReady)")
      case SpeculativeFetch.RequestedBlockNotFound =>
        throw new IllegalArgumentException(
          s"requested block ${request.fold("<head>")(r =>
            if (r.id.nonEmpty) r.id else s"#${r.num}")} not found in the " +
            "fork tree: above head, or connects to no tracked branch " +
            "(ErrRequestedBlockNotFound)")
    }

  /** Create head/LIB/lag gauges for this pipeline and register them on the
    * session's streaming listener bus (T7 — see [[PipelineMetrics]]). */
  def registerMetrics(
      headTimestampMillis: Option[Long => Long] = None): PipelineMetrics = {
    // Wire the maintenance hook too — without it the index gauges read -1
    // forever on exactly the production instances the feature exists for.
    // Same for publish contention: the conflict rate is the operator's
    // early-warning signal for an undersized lease or a hot table.
    val m = new PipelineMetrics(forkDB, headTimestampMillis,
      maintenanceOf = Some(() => maintenanceStats),
      contentionOf = Some(() => store.publishContentionStats),
      headCheckOf = Some(() => headCheckStats))
    spark.streams.addListener(m)
    m
  }

  /** Readiness (T6, pipeline.go:441–443): head within `thresholdSeconds` of
    * wall clock. The block→time mapping is embedder-supplied. */
  def isReady(headTimestampMillis: Long, nowMillis: Long, thresholdSeconds: Int = 15): Boolean =
    nowMillis - headTimestampMillis <= thresholdSeconds * 1000L
}

object IngestionPipeline {
  /** Cadence of the pipeline's periodic head consistency probe
    * ([[graft.store.StateStore.verifyHeads]]), piggybacked on commits.
    * Default 3 minutes; `graft.headCheck.intervalMs=0` disables. On a
    * conditional-create store the probe never fires damaged — it exists
    * for the operator whose store configuration is NOT what they think
    * it is (e.g. S3A without `fs.s3a.create.conditional.enabled`), whose
    * first clobber should surface in minutes, not at an audit. */
  def headCheckIntervalMillis: Long =
    sys.props.get("graft.headCheck.intervalMs")
      .orElse(sys.env.get("GRAFT_HEAD_CHECK_INTERVAL_MS"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(180000L)

  /** Run `body` (typically a `writeStream.start()`) with the calling
    * thread's scheduler pool set to `pool`, restoring the previous value
    * after. Structured Streaming captures the START thread's local
    * properties for every micro-batch it schedules, so this pins ALL of
    * the query's jobs to the pool — the standard way to isolate
    * co-located streaming queries under `spark.scheduler.mode=FAIR`
    * (under the FIFO default the property is ignored). */
  private[graft] def inPool[T](spark: SparkSession, pool: String)(body: => T): T =
    withLocalProperty(spark, "spark.scheduler.pool", pool)(body)
}
