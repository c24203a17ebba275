package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model._

/** Durable storage layout + batch writer (reference write.go, store/kv).
  *
  * Layout (SURVEY.md §1.4): append-only Parquet tables under a root —
  *   tablet_rows/      hive-partitioned by `collection=N`, one COMMITTED
  *                     sub-directory per batch below the partition dir,
  *                     sorted within files by (tablet_id, height). A
  *                     collection predicate prunes whole directories
  *                     (PartitionFilters); tablet/height predicates prune
  *                     via min/max row-group stats.
  *   singlet_entries/  same.
  *   checkpoints/      tiny commit log; the LAST durably-visible write of a
  *                     batch, mirroring the reference's checkpoint-key-last
  *                     flush ordering (store/kv/store.go:418–450). Compacted
  *                     to latest-per-key once the dir count grows.
  *   tablet_snapshots/ TabletIndex log (indexing.go).
  *
  * Commit protocol — the Spark stand-in for the reference KV store's atomic
  * batch flush (store/kv/store.go:332–467):
  *   1. every append is STAGED under `_staging/<uuid>` (invisible: readers
  *      list only the table directories, and `_`-prefixed paths are hidden
  *      to Spark file listings anyway);
  *   2. the staged directory is atomically RENAMED into the table under a
  *      deterministic name (`b<from>-<to>` for a batch) — readers therefore
  *      never observe a partially-written batch;
  *   3. the checkpoint row is written strictly LAST (write.go:40–72), so a
  *      crash never leaves the checkpoint ahead of the data.
  * Replay after a crash between (2) and (3) is idempotent: the linearity
  * guard re-admits the batch (checkpoint unchanged), and the deterministic
  * directory name makes the data write a no-op skip, so rows are never
  * duplicated (the reference gets the same from KV overwrite semantics).
  *
  * All filesystem operations go through Hadoop's FileSystem API, so the
  * store works unchanged against hdfs:// or s3a:// roots. The staged-
  * rename protocol above needs atomic DIRECTORY rename (HDFS/local);
  * for S3-class object stores construct the store with
  * `commitProtocol = StateStore.ManifestCommit`: the mutation tables then
  * commit via [[ManifestTable]] — data files written once and never
  * renamed, visibility from a manifest plus a single generation-pointer
  * swap (one small-object PUT), readers listing from the manifest.
  */
final class StateStore(
    val root: String,
    val commitProtocol: StateStore.CommitProtocol = StateStore.RenameCommit,
    // Manifest-protocol metadata amortization: full manifest every Nth
    // generation, delta sidecars between (ManifestTable.checkpointInterval
    // — the Delta _last_checkpoint shape). 8 keeps the worst-case read
    // reconstruction at 7 tiny sidecar reads while cutting the appender's
    // per-commit metadata write from O(live files) to O(commit) for 7 of
    // every 8 commits. 1 restores the write-full-every-generation layout
    // (what pre-sidecar stores produced).
    val manifestCheckpointInterval: Int = 8)(
    implicit spark: SparkSession) {
  import StateStore._

  val tabletRowsPath = s"$root/tablet_rows"
  val singletEntriesPath = s"$root/singlet_entries"
  val checkpointsPath = s"$root/checkpoints"
  val snapshotsPath = s"$root/tablet_snapshots"
  private val stagingRoot = s"$root/_staging"

  /** Per-tablet read-mix counters feeding [[compactTabletRowsAuto]]'s
    * layout choice — the same observed-counters-drive-maintenance posture
    * the reference's index heuristic takes (indexing.go:527–575), applied
    * to the clustering decision. Driver-side, PERSISTED under the root
    * (one object per LIVE instance under `_readmix.json.d/` plus one
    * absorbed snapshot of dead instances' totals, plus the legacy
    * `_readmix.json` as read-only evidence — seeds at construction,
    * flushes periodically and at each auto-compaction decision, which
    * also absorbs idle objects) so the evidence survives process churn
    * with a BOUNDED object count; see [[StateStore.ReadMixStats]]. */
  val readMix = new StateStore.ReadMixStats(
    Some((spark.sessionState.newHadoopConf(), s"$root/_readmix.json")))

  // A crash between a staged write and its promoting rename orphans the
  // staging directory; nothing else ever references it, so the store would
  // leak one directory per crash forever. Single-writer (the same
  // assumption the linearity guard and checkpoint cache already make)
  // means construction happens before any in-flight stage — sweep here.
  deletePathQuiet(stagingRoot)

  // Crash recovery for interrupted table swaps is a WRITER responsibility:
  // it runs once at construction (covering a crash in a previous process)
  // and again at the head of every [[rewriteTable]]. Readers never rename —
  // a reader racing a live rewrite between its two renames could otherwise
  // restore `path.old` over the writer's about-to-promote replacement.
  Seq(tabletRowsPath, singletEntriesPath, checkpointsPath, snapshotsPath)
    .foreach(recoverSwap)

  // ------------------------------------------------------------------
  // Filesystem plumbing (Hadoop FS — never java.io.File, which silently
  // answers "false" for any non-local root).
  // ------------------------------------------------------------------

  private def fsPath(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  private[graft] def pathExists(p: String): Boolean = {
    val (fs, path) = fsPath(p); fs.exists(path)
  }

  private def deletePath(p: String): Unit = {
    val (fs, path) = fsPath(p)
    if (fs.exists(path)) require(fs.delete(path, true), s"could not delete $p")
  }

  /** Best-effort delete for housekeeping paths whose absence must never
    * fail store construction. */
  private def deletePathQuiet(p: String): Unit =
    try deletePath(p) catch { case _: Exception => () }

  private def renamePath(src: String, dst: String): Unit = {
    val (fs, s) = fsPath(src)
    require(fs.rename(s, new Path(dst)), s"rename failed: $src -> $dst")
  }

  /** Stage `df` then atomically promote it into `tablePath/dirName`.
    * Returns false (and writes nothing) if the target already exists —
    * the crash-replay skip that makes batch commits idempotent. */
  private def atomicAppend(df: DataFrame, tablePath: String, dirName: String): Boolean = {
    val target = s"$tablePath/$dirName"
    if (pathExists(target)) false
    else {
      val staging = s"$stagingRoot/${java.util.UUID.randomUUID().toString}"
      df.write.mode(SaveMode.Overwrite).parquet(staging)
      val (fs, _) = fsPath(tablePath)
      fs.mkdirs(new Path(tablePath))
      renamePath(staging, target)
      true
    }
  }

  /** [[atomicAppend]] for the collection-partitioned mutation tables
    * (SURVEY §1.4 "partition by collection"): the staged write is
    * `partitionBy("collection")`, and each `collection=N` directory is
    * promoted to `tablePath/collection=N/dirName` — so a collection
    * predicate prunes whole DIRECTORIES at the file-index level
    * (PartitionFilters), not just row groups. One rename per collection in
    * the batch; a crash between renames is covered by checkpoint-last plus
    * the per-collection deterministic-name skip on replay. */
  private def atomicAppendPartitioned(
      df: DataFrame, tablePath: String, dirName: String): Boolean = {
    val staging = s"$stagingRoot/${java.util.UUID.randomUUID().toString}"
    df.write.mode(SaveMode.Overwrite).partitionBy("collection").parquet(staging)
    val (fs, sp) = fsPath(staging)
    val parts = fs.listStatus(sp).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("collection="))
      .sortBy(_.getName)
    var any = false
    parts.foreach { p =>
      val collDir = s"$tablePath/${p.getName}"
      val target = s"$collDir/$dirName"
      if (!pathExists(target)) {
        fs.mkdirs(new Path(collDir))
        renamePath(p.toString, target)
        any = true
      }
    }
    deletePathQuiet(staging)
    any
  }

  /** Swap-rewrite a whole table (compaction / prune): write the replacement,
    * move the old table aside, promote, then delete the old copy. A crash at
    * any point leaves a COMPLETE table either at `path` or at `path.old`;
    * [[recoverSwap]] (run at store construction and here — never by a
    * reader) finishes an interrupted swap. */
  private def rewriteTable(
      path: String, replacement: DataFrame, format: String = "parquet",
      partitionCols: Seq[String] = Nil): Unit = {
    recoverSwap(path)
    val tmp = s"$path.rewrite"
    deletePath(tmp)
    replacement.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).format(format).save(tmp)
    val old = s"$path.old"
    deletePath(old)
    renamePath(path, old)
    renamePath(tmp, path)
    deletePath(old)
  }

  /** Crash recovery for [[rewriteTable]]: the table missing while the
    * moved-aside copy exists means a rewrite died between its two renames —
    * restore the complete old table instead of silently reading "empty".
    * Called ONLY from construction and write paths (see the constructor
    * note); the read path performs no filesystem mutation. */
  private def recoverSwap(path: String): Unit = {
    val old = s"$path.old"
    if (!pathExists(path) && pathExists(old)) renamePath(old, path)
  }

  /** Read one store table. Only a missing path means "empty" — a corrupt or
    * unreadable table must surface, not silently degrade. Committed batches
    * are nested directories, hence the recursive listing (partition
    * inference is off; pruning comes from row-group stats, not dir names). */
  private def readTable(path: String, schema: StructType): DataFrame = {
    if (!pathExists(path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.option("recursiveFileLookup", "true").schema(schema).parquet(path)
  }

  /** [[readTable]] for the collection-partitioned mutation tables:
    * partition DISCOVERY (not recursive lookup — the two are mutually
    * exclusive) binds `collection` to the directory key, so a collection
    * predicate becomes a PartitionFilter that prunes whole directories
    * before any footer is read. Discovery appends the partition column
    * last; the select restores the declared schema order. */
  private def readPartitionedTable(path: String, schema: StructType): DataFrame = {
    if (!pathExists(path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.option("basePath", path).schema(schema).parquet(path)
        .select(schema.fieldNames.map(col).toSeq: _*)
  }

  // ------------------------------------------------------------------
  // Write path
  // ------------------------------------------------------------------

  /** Linearity guard (write.go:331–347): a batch starting at height h is
    * writable only if h == lastCheckpoint.height + 1 (or the store is empty).
    * Height 0 is a valid first height (read_test.go:168–182). */
  def isNextBlock(checkpointKey: String, firstHeight: Long): Boolean =
    checkpoint(checkpointKey) match {
      case None     => true
      case Some(cp) => firstHeight == cp.height + 1
    }

  /** Deterministic batch directory name for heights [lo, hi]. */
  private def batchDirName(lo: Long, hi: Long): String = f"b$lo%017d-$hi%017d"

  /** Append one batch of write requests; checkpoint written last (S5).
    * `requests` must be contiguous ascending heights. Idempotent under
    * crash-replay (see the commit protocol in the class doc). */
  def writeBatch(
      requests: Seq[WriteRequest],
      checkpointKey: String = GlobalCheckpointKey): Unit = {
    if (requests.isEmpty) return
    val sorted = requests.sortBy(_.height)
    require(
      sorted.sliding(2).forall { case Seq(a, b) => b.height == a.height + 1; case _ => true },
      "non-contiguous heights in batch")
    require(
      isNextBlock(checkpointKey, sorted.head.height),
      s"batch head ${sorted.head.height} does not follow checkpoint for $checkpointKey")

    import spark.implicits._
    val dir = batchDirName(sorted.head.height, sorted.last.height)
    val rows = sorted.flatMap(_.tabletRows)
    val entries = sorted.flatMap(_.singletEntries)
    if (rows.nonEmpty)
      writeTabletRows(rows.toDF(tabletRowCols: _*), dir)
    if (entries.nonEmpty)
      writeSingletEntries(entries.toDF(singletEntryCols: _*), dir)
    // Checkpoint last — the durability barrier.
    val head = sorted.last
    writeCheckpoint(Checkpoint(checkpointKey, head.height, head.block.id, head.block.num))
  }

  /** Append a checkpoint row AND update the single-writer cache — every
    * checkpoint write in this process must go through here (a direct
    * file append would leave `checkpoint()` serving a stale cache).
    *
    * The log is JSON-lines written straight through the Hadoop FS — one
    * tiny record per commit does not deserve a Spark job (it was ~15% of
    * small-batch ingestion wall-clock as a 1-row parquet write). Same
    * staged-write + atomic-rename protocol as the data tables, and the
    * file name is deterministic per (key, height), so a crash replay of
    * the same checkpoint is a no-op skip. */
  def writeCheckpoint(cp: Checkpoint): Unit = {
    val target = s"$checkpointsPath/cp-${cp.key}-${cp.height}.json"
    if (!pathExists(target)) {
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      val json = s"""{"key":${q(cp.key)},"height":${cp.height},""" +
        s""""block_id":${q(cp.blockId)},"block_num":${cp.blockNum}}\n"""
      val staging = s"$stagingRoot/${java.util.UUID.randomUUID().toString}.json"
      val (fs, sp) = fsPath(staging)
      val out = fs.create(sp, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      fs.mkdirs(new Path(checkpointsPath))
      renamePath(staging, target)
    }
    cpCache.put(cp.key, cp)
    maybeCompactCheckpoints()
  }

  // Single-writer in-memory mirror of the latest checkpoint per key: the
  // durable log is append-only and this process is the only writer (the
  // linearity guard already assumes that), so re-reading the growing log
  // on every batch is pure overhead (~30% of ingestion throughput).
  private val cpCache = scala.collection.concurrent.TrieMap.empty[String, Checkpoint]

  // One directory per checkpoint write would grow without bound (the
  // reference's KV store overwrites in place); compact the log to
  // latest-per-key once the directory count crosses the threshold. The
  // rewrite preserves `checkpoint()` semantics exactly (it is max-per-key).
  private val cpWritesSinceCompactionCheck = new java.util.concurrent.atomic.AtomicLong
  private[graft] var checkpointCompactionThreshold = 64

  private def maybeCompactCheckpoints(): Unit =
    if (cpWritesSinceCompactionCheck.incrementAndGet() % checkpointCompactionThreshold == 0) {
      val (fs, path) = fsPath(checkpointsPath)
      if (fs.exists(path) && fs.listStatus(path).length > checkpointCompactionThreshold)
        compactCheckpoints()
    }

  /** Rewrite the checkpoint log to one row per key (its live value). */
  def compactCheckpoints(): Unit = {
    val latest = checkpointsDF
      .groupBy(col("key"))
      .agg(max_by(struct(col("height"), col("block_id"), col("block_num")), col("height")).as("w"))
      .select(col("key"), col("w.height").as("height"),
        col("w.block_id").as("block_id"), col("w.block_num").as("block_num"))
      .coalesce(1)
    rewriteTable(checkpointsPath, latest, format = "json")
  }

  /** Atomically append pre-shaped mutation DataFrames. `commitId` names the
    * committed directory: pass a deterministic id (batch height range, shard
    * number) to make crash-replays skip instead of duplicate; the default
    * random id gives plain append semantics. Returns false if that commit
    * already exists. */
  // Manifest-protocol table handles (unused under RenameCommit). Same
  // collection=N hive layout as the rename protocol, nested per commit dir,
  // so collection predicates prune directories under BOTH protocols.
  // statsCols: the manifest records per-file (tablet/singlet id, height,
  // key) bounds at commit, and the point/as-of read paths prune the FILE
  // LIST driver-side before Spark lists or footer-reads anything
  // ([[ManifestTable.readPruned]]) — at a micro-batch cadence the live
  // commit count is what a read pays for first, and manifest stats cut it
  // without waiting for compaction.
  private lazy val manifestTabletRows =
    new ManifestTable(tabletRowsPath, Schemas.tabletRows, Some("collection"),
      statsCols = Seq("tablet_id", "height", "primary_key"),
      checkpointInterval = manifestCheckpointInterval)
  private lazy val manifestSingletEntries =
    new ManifestTable(singletEntriesPath, Schemas.singletEntries, Some("collection"),
      statsCols = Seq("singlet_id", "height"),
      checkpointInterval = manifestCheckpointInterval)

  private[graft] def manifestTableFor(path: String): ManifestTable =
    if (path == tabletRowsPath) manifestTabletRows else manifestSingletEntries

  /** Publish-contention counters summed over this store's manifest
    * tables: (lost generation races retried, lease takeovers performed,
    * publishes fenced by the nonce, merges rebased instead of
    * recomputed, merge recomputes escalated to a reservation,
    * escalation-lease heartbeats written). The
    * operator's early-warning signal for an undersized
    * lease or a hot table — surfaced as
    * [[graft.streaming.PipelineMetrics]] gauges. Zeros under
    * [[StateStore.RenameCommit]] (no optimistic publish there). */
  def publishContentionStats: (Long, Long, Long, Long, Long, Long) = commitProtocol match {
    case ManifestCommit =>
      val ts = Seq(manifestTabletRows, manifestSingletEntries)
      (ts.map(_.lostRaceCount.get()).sum,
        ts.map(_.leaseTakeoverCount.get()).sum,
        ts.map(_.fencedPublishCount.get()).sum,
        ts.map(_.rebasedMergeCount.get()).sum,
        ts.map(_.escalatedMergeCount.get()).sum,
        ts.map(_.reservationHeartbeatCount.get()).sum)
    case RenameCommit => (0L, 0L, 0L, 0L, 0L, 0L)
  }

  /** Head consistency cross-check over this store's manifest tables
    * ([[graft.store.ManifestTable.verifyHead]]): empty = every published
    * head's pointer owner matches its sidecar owner. A non-empty result
    * is the signature of a stale-writer clobber that landed AFTER a
    * publish — on a conditional-create store the fencing protocol
    * prevents it, so this firing means the store is NOT honoring the
    * documented contract (e.g. multi-writer on a blind-PUT object
    * store). Two small metadata reads per table; cheap enough for a
    * periodic maintenance probe ([[graft.streaming.IngestionPipeline]]
    * runs it on `graft.headCheck.intervalMs`). Empty under
    * [[StateStore.RenameCommit]] (no pointer to check). */
  def verifyHeads(): Seq[String] = commitProtocol match {
    case ManifestCommit =>
      Seq(manifestTabletRows, manifestSingletEntries).flatMap(_.verifyHead())
    case RenameCommit => Seq.empty
  }

  /** Forensic attribution audit over this store's manifest tables
    * ([[graft.store.ManifestTable.auditHistory]]): generations whose
    * surviving owned manifest objects disagree with their recorded
    * owner. Empty under [[StateStore.RenameCommit]]. */
  def auditHistories(): Seq[String] = commitProtocol match {
    case ManifestCommit =>
      Seq(manifestTabletRows, manifestSingletEntries).flatMap(_.auditHistory())
    case RenameCommit => Seq.empty
  }

  def writeTabletRows(
      df: DataFrame,
      commitId: String = java.util.UUID.randomUUID().toString): Boolean = {
    // Leading `collection` in the sort satisfies the partitioned writer's
    // required ordering (no second sort) and keeps each output file
    // sorted by (tablet_id, height) for row-group pruning.
    val sorted = df.sortWithinPartitions("collection", "tablet_id", "height")
    commitProtocol match {
      case ManifestCommit => manifestTabletRows.commit(sorted, commitId)
      case RenameCommit => atomicAppendPartitioned(sorted, tabletRowsPath, commitId)
    }
  }

  /** Atomically append pre-shaped singlet-entry DataFrames (same contract
    * as [[writeTabletRows]]). */
  def writeSingletEntries(
      df: DataFrame,
      commitId: String = java.util.UUID.randomUUID().toString): Boolean = {
    val sorted = df.sortWithinPartitions("collection", "singlet_id", "height")
    commitProtocol match {
      case ManifestCommit => manifestSingletEntries.commit(sorted, commitId)
      case RenameCommit => atomicAppendPartitioned(sorted, singletEntriesPath, commitId)
    }
  }

  def tabletRows: DataFrame = commitProtocol match {
    case ManifestCommit => manifestTabletRows.read()
    case RenameCommit => readPartitionedTable(tabletRowsPath, Schemas.tabletRows)
  }
  def singletEntries: DataFrame = commitProtocol match {
    case ManifestCommit => manifestSingletEntries.read()
    case RenameCommit => readPartitionedTable(singletEntriesPath, Schemas.singletEntries)
  }

  /** [[tabletRows]] with manifest-stats file pruning under
    * [[ManifestCommit]] (plain table under [[RenameCommit]], where parquet
    * row-group stats already serve the same predicates once footers are
    * open). `filters` MUST be implied by the Catalyst predicates the read
    * applies on top — pruning shrinks the scan, never the result. */
  private[graft] def tabletRowsPruned(filters: Seq[ManifestTable.StatsFilter]): DataFrame =
    commitProtocol match {
      case ManifestCommit => manifestTabletRows.readPruned(filters)
      case RenameCommit => tabletRows
    }

  private[graft] def singletEntriesPruned(filters: Seq[ManifestTable.StatsFilter]): DataFrame =
    commitProtocol match {
      case ManifestCommit => manifestSingletEntries.readPruned(filters)
      case RenameCommit => singletEntries
    }
  def tabletSnapshots: DataFrame = readTable(snapshotsPath, Schemas.tabletSnapshots)

  def checkpointsDF: DataFrame = {
    if (!pathExists(checkpointsPath))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.checkpoints)
    else {
      migrateLegacyCheckpointLog
      spark.read.option("recursiveFileLookup", "true")
        .schema(Schemas.checkpoints).json(checkpointsPath)
    }
  }

  /** Format guard: older stores wrote the checkpoint log as per-commit
    * PARQUET directories. JSON-parsing a parquet file in PERMISSIVE mode
    * yields all-null rows, so `checkpoint()` would silently serve None over
    * a populated store — and the linearity guard would then re-admit
    * height-0 batches, duplicating data instead of failing loudly. Detect
    * legacy parquet files once per instance and migrate them into the JSON
    * log via the crash-safe table swap (single-writer makes this safe; a
    * concurrent legacy READER of the same store was already impossible,
    * since it would be running pre-JSON code). */
  private lazy val migrateLegacyCheckpointLog: Unit = {
    val (fs, path) = fsPath(checkpointsPath)
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = fs.listFiles(path, true)
    while (it.hasNext) files += it.next().getPath
    val parquetFiles = files.filter(_.getName.endsWith(".parquet"))
    if (parquetFiles.nonEmpty) {
      val legacy = spark.read.schema(Schemas.checkpoints)
        .parquet(parquetFiles.map(_.toString).toSeq: _*)
      val jsonFiles = files.filter(_.getName.endsWith(".json"))
      val existing =
        if (jsonFiles.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.checkpoints)
        else spark.read.schema(Schemas.checkpoints)
          .json(jsonFiles.map(_.toString).toSeq: _*)
      // Materializes the union to a tmp table BEFORE the swap, so the
      // explicit source file paths above are still live while read.
      rewriteTable(
        checkpointsPath, existing.unionByName(legacy).coalesce(1), format = "json")
    }
  }

  /** Latest checkpoint for a key (read.go:417–437). The checkpoint log is
    * append-only; the live checkpoint is the highest height per key.
    * Served from the single-writer cache once warm; the durable log is the
    * source of truth at startup. */
  def checkpoint(key: String): Option[Checkpoint] =
    cpCache.get(key).orElse {
      val fromLog = readCheckpointFromLog(key)
      fromLog.foreach(cpCache.put(key, _))
      fromLog
    }

  /** [[checkpoint]] for READER instances: always consults the durable
    * log. The cache above is a single-WRITER cache (warm after the first
    * hit, advanced by this instance's own checkpoint writes), so on an
    * instance that never writes — a reader fleet polling another
    * process's store — [[checkpoint]] freezes at its first observation
    * forever. One small log read per call; no cache interaction. */
  def checkpointFresh(key: String): Option[Checkpoint] =
    readCheckpointFromLog(key)

  private def readCheckpointFromLog(key: String): Option[Checkpoint] = {
    import spark.implicits._
    // Bounded replan-and-retry: a READER-fleet poll scans the checkpoint
    // log's files while the writer's compactCheckpoints may be rewriting
    // them — a file listed at plan time can be gone at execution time
    // (FAILED_READ_FILE.FILE_NOT_EXIST). Each retry RE-PLANS (fresh
    // listing of the now-compacted log), so one bounce resolves it; the
    // log's content is latest-per-key either way, so the retried answer
    // is never stale. Persistent failures still surface loudly.
    var attempt = 0
    while (true) {
      try {
        return checkpointsDF
          .filter(col("key") === lit(key))
          .orderBy(col("height").desc)
          .limit(1)
          .select(col("key"), col("height"),
            col("block_id").as("blockId"), col("block_num").as("blockNum"))
          .as[Checkpoint]
          .collect()
          .headOption
      } catch {
        // Exception, not Throwable: a fatal error (OOM, linkage) must
        // propagate immediately, never be message-inspected and slept on.
        case e: Exception if attempt < 3 && fileVanishedUnder(e) =>
          attempt += 1
          Thread.sleep(50L << attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The exception chain indicates a scanned file vanished mid-read (a
    * concurrent log compaction/sweep) — the retriable class, distinct
    * from corruption or genuine IO failure. Matched NARROWLY: a
    * FileNotFoundException cause, or Spark's FAILED_READ_FILE.FILE_NOT_EXIST
    * error class — NOT a generic "does not exist" substring, which would
    * also match an AnalysisException for a missing table/path (a
    * non-retriable condition that three sleep-retries would only delay). */
  private def fileVanishedUnder(e: Throwable): Boolean = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 10) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          if (Option(cur.getMessage).exists(_.contains("FILE_NOT_EXIST")))
            return true
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Append one tablet snapshot (the reference's TabletIndex write,
    * indexing.go:100–147): `index` carries (primary_key, height) as built by
    * [[graft.snapshot.Snapshots.buildTabletIndex]]. Deterministic commit
    * name per (tablet, height): a crash-replayed index build skips. */
  private def tabletHashOf(tabletId: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tabletId.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def writeTabletSnapshot(
      index: DataFrame,
      tabletId: String,
      atHeight: Long,
      squelchCount: Long,
      collection: Int = 0): Unit = {
    val tabletHash = tabletHashOf(tabletId)
    atomicAppend(
      index.select(
        lit(collection).as("collection"),
        lit(tabletId).as("tablet_id"),
        lit(atHeight).as("at_height"),
        lit(squelchCount).as("squelch_count"),
        col("primary_key"), col("height")),
      snapshotsPath, f"s-$collection-$tabletHash-$atHeight%017d")
  }

  /** Most recent snapshot of `tabletId` at or below `maxHeight`:
    * `(at_height, rows)` — the read-path lookup (read.go:47,
    * indexing.go:451–468). `ignoreRange` (fluxdb.go's ignore-index-range
    * option) skips snapshots inside a corrupted height window: a height
    * inside `(start, stop]` re-resolves from `start` instead, exactly like
    * fetchIndex (indexing.go:303–326). */
  def latestTabletSnapshot(
      tabletId: String,
      maxHeight: Long = Long.MaxValue,
      ignoreRange: Option[(Long, Long)] = None): Option[(Long, DataFrame)] =
    tabletSnapshotLookup(tabletId, maxHeight, ignoreRange).map(l => l.atHeight -> l.rows)

  /** THE snapshot-metadata statement: [[latestTabletSnapshot]]'s choice
    * plus everything a snapshot-routed read needs to bound its scans —
    * the snapshot's `min(height)` (the hydration bound, see
    * [[graft.snapshot.Snapshots.hydrationBoundOf]]), its stored
    * `squelch_count`, and, for a point read, `primaryKey`'s own height in
    * it — all from ONE `groupBy(at_height)` over the tablet's snapshot
    * rows. The newest usable `at_height` is picked on the driver from
    * the per-snapshot groups (a handful per tablet after retention
    * pruning), which is also where `ignoreRange`'s re-fetch below the
    * window happens: the groups at or below its start are already in
    * hand. None when no snapshot qualifies. */
  private[graft] def tabletSnapshotLookup(
      tabletId: String,
      maxHeight: Long,
      ignoreRange: Option[(Long, Long)] = None,
      primaryKey: Option[String] = None): Option[StateStore.SnapshotLookup] = {
    val effectiveMax = ignoreRange match {
      case Some((start, stop)) if start < stop && maxHeight > start && maxHeight <= stop =>
        start
      case _ => maxHeight
    }
    val inIgnore = (h: Long) => ignoreRange.exists {
      case (start, stop) => start < stop && h > start && h <= stop
    }
    val scoped = tabletSnapshots
      .filter(col("tablet_id") === lit(tabletId) && col("at_height") <= lit(effectiveMax))
    val keyHeight = primaryKey.fold(lit(null).cast("long"))(k =>
      when(col("primary_key") === lit(k), col("height")))
    // One row per snapshot: (at_height, min height, squelch, key height).
    val groups = scoped.groupBy(col("at_height"))
      .agg(min(col("height")), max(col("squelch_count")), min(keyHeight))
      .collect().toSeq
    def newest(c: Seq[org.apache.spark.sql.Row]) =
      if (c.isEmpty) None else Some(c.maxBy(_.getLong(0)))
    newest(groups).flatMap { r =>
      // The best snapshot lands inside the ignored window — re-fetch
      // strictly below it (indexing.go:320–325's recursive re-fetch).
      if (inIgnore(r.getLong(0))) newest(groups.filter(_.getLong(0) <= ignoreRange.get._1))
      else Some(r)
    }.map { r =>
      val h = r.getLong(0)
      def orMax(i: Int) = if (r.isNullAt(i)) Long.MaxValue else r.getLong(i)
      StateStore.SnapshotLookup(h,
        scoped.filter(col("at_height") === lit(h)).select("primary_key", "height"),
        orMax(1), r.getLong(2), orMax(3))
    }
  }

  /** [[latestTabletSnapshot]] plus the winning snapshot's stored
    * `squelch_count` — the incremental index build seeds from all three
    * (prev height, prev squelch, prev rows). */
  def latestTabletSnapshotMeta(
      tabletId: String,
      maxHeight: Long = Long.MaxValue): Option[(Long, Long, DataFrame)] =
    tabletSnapshotLookup(tabletId, maxHeight).map(l => (l.atHeight, l.squelchCount, l.rows))

  /** Snapshot-aware as-of read: uses the newest snapshot at or below
    * `atHeight` so the mutation scan is bounded to the tail
    * `(snapshotHeight, atHeight]` (SURVEY.md §3.1); falls back to the full
    * scan when no snapshot exists. `ignoreRange` skips snapshots in a
    * corrupted height window (result is identical — only the scan bound
    * widens). */
  def readTabletAt(
      tabletId: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil,
      ignoreRange: Option[(Long, Long)] = None): DataFrame = {
    readMix.recordTailScan(tabletId)
    tabletSnapshotLookup(tabletId, atHeight, ignoreRange) match {
      case Some(StateStore.SnapshotLookup(snapH, snap, bound, _, _)) =>
        // The snapshot's min height comes with the lookup (same
        // statement) and bounds the hydration scan — the difference
        // between O(history) and O(live band) reads on a deep tablet;
        // see readTabletAtWithSnapshot.
        val hb = Some(bound)
        // Everything this read touches sits in heights
        // [min(hydration bound, snapH+1), atHeight] of this tablet —
        // manifest stats drop whole files outside that band before the
        // scan is even planned.
        val src = tabletRowsPruned(Seq(
          ManifestTable.StatsEq("tablet_id", tabletId),
          ManifestTable.StatsLte("height", atHeight),
          ManifestTable.StatsGte("height",
            math.min(hb.getOrElse(Long.MaxValue), snapH + 1))))
        graft.snapshot.Snapshots.readTabletAtWithSnapshot(
          src, snap, snapH, tabletId, atHeight, speculative, hb)
      case None =>
        graft.read.TemporalReads.readTabletAt(
          tabletRowsPruned(Seq(
            ManifestTable.StatsEq("tablet_id", tabletId),
            ManifestTable.StatsLte("height", atHeight))),
          tabletId, atHeight, speculative)
    }
  }

  /** Snapshot-aware batch AS-OF JOIN against this store's mutation table:
    * the batch generalization of [[readTabletAt]]'s pruning. Resolves the
    * newest usable snapshot at or below the probes' max `at_height` (one
    * tiny aggregate; `ignoreRange` honored exactly like every read) and
    * routes eligible probes through
    * [[graft.snapshot.Snapshots.asOfJoinWithSnapshot]] — per-probe cost
    * bounded by mutations-since-snapshot instead of history depth. Falls
    * back to the full-history join when no snapshot exists or the probe
    * set is empty; the result is identical either way (spec-pinned).
    *
    * The probes plan is referenced TWICE — once by the max-height
    * aggregate resolving the snapshot, once by the join itself — so an
    * expensive probe pipeline should be persisted by the caller, and a
    * nondeterministic one is a caller bug (its two evaluations could
    * disagree; every read facade here assumes deterministic inputs). */
  def asOfJoin(
      tabletId: String,
      probes: DataFrame,
      ignoreRange: Option[(Long, Long)] = None): DataFrame = {
    // One pass over the probe set decides every driver-side bound:
    // the height ceiling (nothing above max at_height can influence any
    // resolution), the floor eligibility (min at_height vs the snapshot),
    // and whether the fallback route can be skipped outright (no probe
    // targets another tablet or carries a null).
    // cast("long"): an IntegerType at_height (Int-literal probes) would
    // otherwise surface as java.lang.Integer and fail the Long cast.
    val aggRow = probes.agg(
      max(col("at_height").cast("long")),
      min(col("at_height").cast("long")),
      sum(when((col("tablet_id") <=> lit(tabletId)) &&
        col("at_height").isNotNull, 0L).otherwise(1L))).head()
    val maxAt = Option(aggRow.get(0)).map(_.asInstanceOf[Long])
    val minAt = Option(aggRow.get(1)).map(_.asInstanceOf[Long])
    val nFallbackish = Option(aggRow.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    maxAt.flatMap(tabletSnapshotLookup(tabletId, _, ignoreRange)) match {
      case Some(StateStore.SnapshotLookup(snapH, snap, bound, _, _)) =>
        val hb = Some(bound)
        // ELIGIBLE route sources: everything it touches lies in
        // [min(hydration bound, snapH+1), maxAt] of this tablet — the
        // floor drops the deep history's FILES from the plan, the same
        // asymmetry readTabletAt gets.
        val eligibleSrc = tabletRowsPruned(Seq(
          ManifestTable.StatsEq("tablet_id", tabletId),
          ManifestTable.StatsGte("height",
            math.min(hb.getOrElse(Long.MaxValue), snapH + 1)),
          ManifestTable.StatsLte("height", maxAt.get)))
        // FALLBACK source: only the ceiling bounds it — but when the probe
        // set provably routes nowhere near it (all probes on this tablet,
        // non-null, at or above the snapshot), an empty relation replaces
        // it and the plan never lists a pre-snapshot file at all.
        val fallbackSrc =
          if (nFallbackish == 0L && minAt.exists(_ >= snapH))
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              Schemas.tabletRows)
          else tabletRowsPruned(Seq(ManifestTable.StatsLte("height", maxAt.get)))
        graft.snapshot.Snapshots.asOfJoinWithSnapshot(
          eligibleSrc, probes, snap, snapH, tabletId, hb, Some(fallbackSrc))
      case None =>
        graft.read.TemporalReads.asOfJoin(
          maxAt.fold(tabletRows)(m =>
            tabletRowsPruned(Seq(ManifestTable.StatsLte("height", m)))),
          probes)
    }
  }

  /** State diff between two heights — the changefeed surface
    * ([[graft.read.TemporalReads.readTabletDiff]] semantics, INCREMENTAL
    * plan). A key can only appear in the diff if it mutated inside
    * `(fromHeight, toHeight]`, so the store formulation inverts the scan:
    *
    *   1. scan ONLY the window (manifest height floor + ceiling — at a
    *      deep-history tablet this is the whole trick: the window is what
    *      a changefeed consumer polls, a sliver of the table);
    *   2. per-key argmax inside the window = the post-side winner;
    *   3. resolve those keys' pre-state at `fromHeight` through
    *      [[asOfJoin]] — which itself takes the TabletIndex-pruned route
    *      when a snapshot exists, so the pre-side lookup is
    *      O(touched keys), not O(history);
    *   4. classify added/updated/deleted exactly as the one-pass form.
    *
    * Cost tracks the window plus one bounded lookup per touched key,
    * instead of the full history both generic argmaxes scan. Result is
    * identical to the generic formulation (spec-pinned; the driver oracle
    * pins the generic one). */
  def readTabletDiff(tabletId: String, fromHeight: Long, toHeight: Long): DataFrame = {
    require(fromHeight <= toHeight,
      s"diff window inverted: $fromHeight > $toHeight")
    readMix.recordTailScan(tabletId) // a height-band scan, layout-wise
    val window = tabletRowsPruned(Seq(
        ManifestTable.StatsEq("tablet_id", tabletId),
        ManifestTable.StatsGte("height", fromHeight + 1),
        ManifestTable.StatsLte("height", toHeight)))
      .filter(col("tablet_id") === lit(tabletId) &&
        col("height") > lit(fromHeight) && col("height") <= lit(toHeight))
    // Persisted: the post-winner frame is consumed TWICE — the as-of
    // join's driver-side probe aggregate (runs eagerly below) and the
    // final classification join — and without the persist each consumer
    // re-runs the window scan + argmax shuffle. Window-bounded by
    // construction (a changefeed poll's sliver), so the cached footprint
    // is small. The cache's lifetime is tied to THIS call: the result is
    // materialized before returning and the persist released (below) —
    // a long-lived or SQL-only session (the graft_tablet_diff TVF plans
    // this eagerly per analysis) must not accumulate one cached plan per
    // diff until somebody calls clearCache.
    val post = graft.read.TemporalReads
      .latestPerKey(window, Seq("primary_key"), Seq("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = post.select(
      col("primary_key").as("probe_id"),
      lit(tabletId).as("tablet_id"),
      col("primary_key"),
      lit(fromHeight).as("at_height"))
    // asOfJoin signals "absent or tombstoned at fromHeight" as a null
    // height — exactly the pre-side liveness bit classification needs.
    val pre = asOfJoin(tabletId, probes)
      .select(col("primary_key"),
        col("height").as("pre_height"), col("value").as("pre_value"))
    val oldLive = col("pre_height").isNotNull
    val newLive = !col("is_deletion")
    val classified = post.join(pre, Seq("primary_key"))
      .withColumn("change_type",
        when(!oldLive && newLive, lit("added"))
          .when(oldLive && !newLive, lit("deleted"))
          .when(oldLive && newLive, lit("updated")))
      .filter(col("change_type").isNotNull)
      .select(
        col("primary_key"),
        col("change_type"),
        col("height").as("change_height"),
        col("pre_value").as("old_value"),
        when(newLive, col("value")).as("new_value"))
      .orderBy("primary_key")
    // Materialize now (touched-key-bounded, the size a changefeed
    // consumer is about to pull anyway), then drop the persist — after
    // this nothing can re-read `post`, so the call leaves NO entry in the
    // cache manager.
    //
    // DURABILITY of the materialized result: with a context checkpoint
    // directory configured, the diff is RELIABLY checkpointed (files, not
    // executor blocks) — it survives executor loss, the production
    // posture for a long-lived SQL session planning diffs through the
    // TVF. Without one, localCheckpoint blocks are the only copy: an
    // executor loss makes any LATER read of the returned frame fail
    // loudly ("checkpoint block not found" — never silent partial data),
    // and the recovery is to re-plan the diff (this method is pure).
    // Block/file lifecycle: localCheckpoint blocks are context-cleaned
    // when the caller drops the frame (or via
    // GraftBridge.freeLocalCheckpoint / graft_release_diffs); reliable
    // checkpoint FILES are reclaimed by the ContextCleaner only with
    // spark.cleaner.referenceTracking.cleanCheckpoints=true — otherwise
    // free them explicitly with GraftBridge.freeCheckpoint(diff) or
    // `SELECT * FROM graft_release_diffs()` (both delete the rdd-N/
    // checkpoint directory, the cleaner's own deletion path).
    // Opt-out: `spark.graft.diff.reliableCheckpoint=false` keeps
    // localCheckpoint even with a checkpoint dir set — for sessions whose
    // checkpoint dir exists for OTHER stateful workloads and must not
    // accumulate per-diff files (reliable-checkpoint files are only
    // auto-reclaimed under cleanCheckpoints=true).
    val durable = spark.conf
      .getOption("spark.graft.diff.reliableCheckpoint")
      .forall(_.trim.equalsIgnoreCase("true"))
    try {
      if (durable && spark.sparkContext.getCheckpointDir.isDefined) {
        // Persist first: Dataset.checkpoint(eager) runs TWO jobs (the
        // eager action, then ReliableCheckpointRDD's file write), and
        // without a persisted input the whole classification — join,
        // as-of pre-resolve, sort — recomputes for the second one
        // (Spark's own RDD.checkpoint doc makes the same point).
        val c = classified.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try c.checkpoint(eager = true)
        finally c.unpersist(blocking = false)
      }
      else classified.localCheckpoint(eager = true)
    } finally post.unpersist(blocking = false)
  }

  /** [[readTabletDiff]]'s STREAMING twin, step 1: subscribe to the
    * mutation table — a continuous append stream of committed rows, one
    * micro-batch per published commit once caught up.
    *
    *   - [[ManifestCommit]]: the [[graft.streaming.ManifestChangefeed]]
    *     source — generation pointer as offset (O(1) poll, no listing),
    *     manifest diff as batch plan, exactly-once from checkpointed
    *     generations, compaction generations skipped as
    *     `dataChange = false`. Rows carry `_generation`/`_commit_id`
    *     provenance.
    *   - [[RenameCommit]]: Spark's file source IS the changefeed —
    *     commit directories appear atomically by rename, so the
    *     checkpointed file listing is the offset (the same reuse as
    *     [[graft.streaming.BlockArchiveSource]]). Provenance:
    *     `_commit_id` from the committed directory name, `_generation`
    *     null (no generation counter under this protocol). CAVEAT: the
    *     file source tracks files by path, so a COMPACTION mid-stream
    *     re-emits the rewritten table — do not compact under a live
    *     rename-protocol subscriber (the manifest protocol rides through
    *     compaction; that asymmetry is inherent to the two protocols'
    *     metadata, not fixable here).
    *
    * `startingGeneration` ("0" = full history replay, "latest" = only
    * new commits, a number = after that generation) applies to the
    * manifest protocol; the rename file source always replays.
    * `maxGenerationsPerTrigger` (manifest protocol) caps how many pending
    * generations one micro-batch may span — catch-up over a deep backlog
    * splits into bounded, individually-committed slices; the rename
    * protocol's file source has the engine's own `maxFilesPerTrigger`
    * for the same job. */
  def changefeedStream(
      startingGeneration: String = "0",
      maxGenerationsPerTrigger: Option[Long] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame =
    mutationChangefeed(tabletRowsPath, "tablet_rows",
      Schemas.tabletRows, startingGeneration, maxGenerationsPerTrigger,
      maxFilesPerTrigger, maxBytesPerTrigger)

  /** [[changefeedStream]] for the SINGLET entry table — same offsets,
    * provenance, and protocol dispatch over `singlet_entries`. */
  def singletChangefeedStream(
      startingGeneration: String = "0",
      maxGenerationsPerTrigger: Option[Long] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame =
    mutationChangefeed(singletEntriesPath, "singlet_entries",
      Schemas.singletEntries, startingGeneration, maxGenerationsPerTrigger,
      maxFilesPerTrigger, maxBytesPerTrigger)

  private def mutationChangefeed(
      path: String, table: String, schema: StructType,
      startingGeneration: String,
      maxGenerationsPerTrigger: Option[Long] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame =
    commitProtocol match {
      case ManifestCommit =>
        graft.streaming.ManifestChangefeed.stream(
          spark, path, table, startingGeneration,
          maxGenerationsPerTrigger = maxGenerationsPerTrigger,
          maxFilesPerTrigger = maxFilesPerTrigger,
          maxBytesPerTrigger = maxBytesPerTrigger)
      case RenameCommit =>
        val (fs, p) = fsPath(path)
        fs.mkdirs(p)
        // Recursive lookup + path-derived columns, NOT partition
        // discovery: the file source binds partitioning from the listing
        // at stream DEFINITION, so a subscriber started on an empty (or
        // not-yet-written) table would bake in "no partition columns" and
        // mis-read every later file. The `collection=N` value is in the
        // path either way; a changefeed reads every new file, so losing
        // partition pruning costs nothing here.
        val filePath = col("_metadata").getField("file_path")
        val dataSchema = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == "collection"))
        val reader = spark.readStream
          .option("recursiveFileLookup", "true")
          .schema(dataSchema)
        // The file source has no generation axis (maxGenerationsPerTrigger
        // does not apply), but its own admission options carry the SAME
        // volume contract as the manifest source's — pass them through so
        // a caller's budget is never silently dropped on this protocol.
        maxFilesPerTrigger.foreach(m =>
          reader.option("maxFilesPerTrigger", m.toString))
        maxBytesPerTrigger.foreach(m =>
          reader.option("maxBytesPerTrigger", m.toString))
        reader
          .parquet(path)
          .select(
            regexp_extract(filePath, "/collection=([^/]+)/", 1)
              .cast("int").as("collection") +:
              dataSchema.fieldNames.map(col).toSeq :+
              lit(null).cast("long").as(
                graft.streaming.ManifestChangefeed.GenerationCol) :+
              regexp_extract(filePath,
                "/collection=[^/]+/([^/]+)/[^/]+$", 1).as(
                graft.streaming.ManifestChangefeed.CommitIdCol): _*)
    }

  /** [[readTabletDiff]]'s STREAMING twin, step 2: the committed-mutation
    * stream folded into per-key change events
    * ([[graft.streaming.ManifestChangefeed.diffStream]]) — added/updated/
    * deleted with old/new values, state = one row per live key. When
    * micro-batches align with commits (steady state: one generation per
    * trigger), each batch's events are exactly
    * `readTabletDiff(prevCommitHeight, commitHeight)` per tablet —
    * spec-pinned, including the delete→revive and flap-in-one-batch
    * edges. */
  def changefeedDiffStream(startingGeneration: String = "0"): DataFrame =
    graft.streaming.ManifestChangefeed.diffStream(
      changefeedStream(startingGeneration))

  /** [[changefeedDiffStream]] for singlets: a singlet's key IS its id
    * (one live value per singlet), so the CDC state machine runs keyed on
    * (singlet_id, collection) — the collection rides in the key slot so
    * same-named singlets in different collections get independent state
    * machines (the singlet schema scopes ids per collection) — and the
    * events come back singlet-named with their collection. */
  def singletChangefeedDiffStream(startingGeneration: String = "0"): DataFrame =
    graft.streaming.ManifestChangefeed.diffStream(
      singletChangefeedStream(startingGeneration)
        .select(col("singlet_id").as("tablet_id"),
          col("collection").cast("string").as("primary_key"),
          col("height"), col("value"), col("is_deletion")))
      .select(col("tablet_id").as("singlet_id"),
        col("primary_key").cast("int").as("collection"), col("change_type"),
        col("change_height"), col("old_value"), col("new_value"))

  /** Small-files maintenance for the mutation tables: a 1 s micro-batch
    * cadence appends one committed directory per batch (~86k/day), and at
    * scale the file LISTING and footer reads come to dominate scan cost
    * long before data size does. Compaction rewrites the table as `n`
    * range-partitioned, height-sorted files on (tablet_id, height) —
    * contiguous key ranges per file, so parquet row-group stats prune BOTH
    * the tablet and the height predicate — via the crash-safe swap
    * ([[recoverSwap]] finishes an interrupted one; readers never see a
    * partial table). Contents are preserved exactly.
    *
    * Replay safety after compaction rests on the checkpoint linearity
    * guard, NOT on batch-directory names: a redelivered batch drops
    * heights at or below the checkpoint before writing, so the loss of
    * the deterministic directory skip is harmless. Single-writer: run
    * between batches, like pruning. Returns the number of committed
    * directories folded in. */
  def compactTabletRows(numFiles: Int = 0): Long =
    compactMutationTable(tabletRowsPath, Schemas.tabletRows,
      Seq("tablet_id", "height"), numFiles)

  /** Maintenance: synthesize the delta sidecars a legacy (pre-sidecar)
    * store is missing, for BOTH mutation tables — one full-manifest fold
    * each, after which every changefeed catch-up takes the linear
    * sidecar path instead of re-paying the quadratic fold per
    * subscription ([[ManifestTable.backfillDeltaSidecars]]). Manifest
    * protocol only (the rename protocol has no manifests to fold);
    * single-writer discipline, like compaction. Returns
    * table → (synthesized, alreadyPresent). */
  def backfillDeltaSidecars(): Map[String, (Int, Int)] = {
    require(commitProtocol == ManifestCommit,
      "backfillDeltaSidecars: sidecars exist only under the manifest protocol")
    Map(
      "tablet_rows" -> manifestTabletRows.backfillDeltaSidecars(),
      "singlet_entries" -> manifestSingletEntries.backfillDeltaSidecars())
  }

  /** [[compactTabletRows]] with the Z-ORDER (interleaved) layout —
    * SURVEY §7.4.7's second clustering dimension. The height-sorted
    * default serves tail scans; this layout clusters each tablet by the
    * Morton interleave of (primary_key prefix, height) so row groups get
    * tight min/max boxes in BOTH dimensions — `height`-band scans AND
    * `primary_key` point reads ([[readTabletRowAt]], the as-of join's
    * equi-probe side) prune, each from its own column's parquet stats.
    * Same exact contents, same crash-safe swap; pick per table by its
    * read mix. */
  def compactTabletRowsInterleaved(numFiles: Int = 0): Long =
    compactMutationTable(tabletRowsPath, Schemas.tabletRows,
      Seq("tablet_id", "height"), numFiles, zorderKey = Some("primary_key"))

  /** Compaction with the layout chosen PER TABLET from the observed read
    * mix ([[readMix]]): point-read-heavy tablets compact interleaved,
    * scan-heavy (or unobserved) tablets stay height-sorted — the
    * reference automates its analogous maintenance decision from observed
    * counters the same way (indexing.go:527–575), instead of making the
    * operator pick per table. One rewrite either way; contents identical
    * under both layouts (spec-pinned). `overrides` pins specific tablets
    * (`"interleaved"` / `"sorted"`) regardless of counters — the
    * operator's escape hatch. Returns (directories folded, the tablet set
    * that compacted interleaved). */
  /** [[compactTabletRowsAuto]]'s DRY-RUN: the per-tablet evidence and the
    * decision it would drive, without rewriting anything — the operator's
    * what-would-happen view before a maintenance window (and the place to
    * see that a fresh process is deciding on persisted counters). Rows:
    * (tablet, pointReads, tailScans, layout it would compact to). */
  def compactTabletRowsAutoReport(
      overrides: Map[String, String] = Map.empty): Seq[(String, Long, Long, String)] = {
    overrides.values.foreach(v => require(
      v == "interleaved" || v == "sorted",
      s"layout override must be 'interleaved' or 'sorted', got '$v'"))
    val observed = readMix.observedTablets ++
      overrides.keys.filterNot(readMix.observedTablets.contains)
    observed.sorted.map { t =>
      val decided = overrides.getOrElse(t,
        if (readMix.prefersInterleaved(t)) "interleaved" else "sorted")
      (t, readMix.pointReads(t), readMix.tailScans(t), decided)
    }
  }

  def compactTabletRowsAuto(
      numFiles: Int = 0,
      overrides: Map[String, String] = Map.empty): (Long, Set[String]) = {
    overrides.values.foreach(v => require(
      v == "interleaved" || v == "sorted",
      s"layout override must be 'interleaved' or 'sorted', got '$v'"))
    // Persist the evidence the decision is about to run on: the NEXT
    // process's auto-compaction then sees at least this decision's counts.
    readMix.flush()
    // Fold dead instances' counter objects while we're on the maintenance
    // path — bounds the readmix directory at (live instances + 1) objects
    // instead of one per instance lifetime; exact under races by the
    // max-merge format (ReadMixStats.absorb).
    readMix.absorb(StateStore.readMixAbsorbAgeMillis)
    val auto = readMix.observedTablets.filter(readMix.prefersInterleaved).toSet
    val interleaved =
      (auto ++ overrides.collect { case (t, "interleaved") => t }) --
        overrides.collect { case (t, "sorted") => t }
    val folded =
      if (interleaved.isEmpty) compactTabletRows(numFiles)
      else compactMutationTable(tabletRowsPath, Schemas.tabletRows,
        Seq("tablet_id", "height"), numFiles,
        zorderKey = Some("primary_key"), zorderOnly = Some(interleaved))
    (folded, interleaved)
  }

  /** [[compactTabletRows]] for the singlet-entry table. (No interleaved
    * variant: a singlet's key IS `singlet_id`, already the leading sort
    * dimension — there is no second key axis to interleave.) */
  def compactSingletEntries(numFiles: Int = 0): Long =
    compactMutationTable(singletEntriesPath, Schemas.singletEntries,
      Seq("singlet_id", "height"), numFiles)

  private def compactMutationTable(
      path: String, schema: StructType, keys: Seq[String], numFiles: Int,
      zorderKey: Option[String] = None,
      zorderOnly: Option[Set[String]] = None): Long = {
    val n =
      if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    // Layout: default = range-partition + sort on (tablet, height); with
    // `zorderKey` the in-tablet order key becomes the z-value, computed
    // per compaction from the table's max height (order-preserving scale
    // of the height dimension into 32 bits) and DROPPED before write —
    // the layout changes, the schema does not. `zorderOnly` restricts the
    // interleave to a tablet subset (the per-tablet auto choice): other
    // tablets order by plain height inside the same rewrite — the order
    // column is compared only WITHIN a tablet (it follows keys.head in
    // both the range partitioning and the sort), so mixing conventions
    // across tablets is sound.
    def clustered(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      zorderKey match {
        case Some(pk) =>
          val dims = ZOrder.dimsOf(df, pk, "height")
          // Prefix and bucket as PROJECTED columns: the bucket fold
          // references its input per histogram boundary and the interleave
          // references the bucket 16 times — inlined (the one-expression
          // zValue form) that re-evaluates the encode/hex/conv chain
          // hundreds of times per row across the whole table.
          val zed = df.withColumn("__pfx", ZOrder.keyPrefix32(col(pk)))
            .withColumn("__bkt",
              ZOrder.keyBucketOfPrefix(col("__pfx"), dims.keyBounds))
            .withColumn("__z",
              ZOrder.zValueOfBucket(col("__bkt"), col("height"), dims))
          val ordered = zorderOnly match {
            case None => zed
            case Some(tablets) => zed.withColumn("__z",
              when(col(keys.head).isin(tablets.toSeq: _*), col("__z"))
                .otherwise(col("height")))
          }
          ordered
            .repartitionByRange(n, col(keys.head), col("__z"))
            .sortWithinPartitions(col("collection"), col(keys.head), col("__z"))
            .drop("__z", "__bkt", "__pfx")
        case None =>
          df.repartitionByRange(n, keys.map(col): _*)
            .sortWithinPartitions(col("collection") +: keys.map(col): _*)
      }
    commitProtocol match {
      case ManifestCommit =>
        val t = manifestTableFor(path)
        val before = t.currentGeneration()
          .map(g => t.manifestEntries(g).size.toLong).getOrElse(0L)
        if (before == 0L) return 0L
        // replaceAll publishes a manifest referencing only the compacted
        // files; prior generations become invisible at the pointer swap
        // and their directories are swept after. Retrying form: a writer
        // committing mid-compaction costs a recompute (the thunk re-reads
        // the new head), never a silently-lost commit. The inline sweep
        // defaults to the publish-lease age guard so it is ALSO safe
        // beside live writers (an in-flight commit's directory is
        // unreferenced until its pointer swap — younger than the lease
        // by the protocol's own bound, so it is skipped); pre-compaction
        // generations' directories are reclaimed by the NEXT compaction
        // (or a dedicated sweep) once older than the lease. Single-writer
        // deployments opt into immediate reclamation with
        // graft.compact.sweepMinAgeMs=0.
        t.replaceAllRetrying(() => clustered(t.read()), "compact")
        t.sweepOrphans(minAgeMillis = StateStore.compactSweepMinAgeMillis)
        before
      case RenameCommit =>
        recoverSwap(path)
        if (!pathExists(path)) return 0L
        val (fs, p) = fsPath(path)
        // Committed batch directories live one level down, under collection=N.
        val before = fs.listStatus(p).filter(_.isDirectory).map { c =>
          if (c.getPath.getName.startsWith("collection="))
            fs.listStatus(c.getPath).count(_.isDirectory).toLong
          else 1L
        }.sum
        rewriteTable(path, clustered(readPartitionedTable(path, schema)),
          partitionCols = Seq("collection"))
        before
    }
  }

  /** ReindexTablets (indexing.go:100–171): rebuild EXISTING tablet index
    * entries from the mutation rows — the operational answer to a corrupted
    * or format-changed index. The reference loops tablet-by-tablet,
    * entry-by-entry through its KV store (ordered by tablet, ascending by
    * height); the columnar re-expression rebuilds ALL in-scope
    * `(tablet, at_height)` entries in ONE distributed job — the entry list
    * joins the mutation table, a per-entry argmax recomputes each index,
    * and the snapshot table is swap-rewritten crash-safely in place.
    *
    * `maxHeight` bounds entries (reference `height`, 0 → all); `lowerBound`
    * restarts from a tablet id (reference `lowerBound`); `dryRun` only
    * counts. Returns `(tabletCount, indexCount)` like the reference. */
  def reindexTablets(
      maxHeight: Long = Long.MaxValue,
      lowerBound: String = "",
      dryRun: Boolean = false,
      heavyIndexRows: Long = HeavyIndexRowWarning): (Long, Long) =
    reindexScoped(
      col("at_height") <= lit(maxHeight) && col("tablet_id") >= lit(lowerBound),
      dryRun, heavyIndexRows)

  /** ReindexTablet (indexing.go:173–223): recompute the LATEST index entry
    * of one tablet at or below `maxHeight`, in place. Returns the reindexed
    * height, or None when no index exists there ("re-index not required").
    * `write = false` mirrors the reference's read-only mode.
    *
    * When the entry still lives in its own committed directory (the
    * append-only layout), the repair is a per-DIRECTORY swap — delete the
    * corrupt entry's directory, rebuild, re-append — never a whole-table
    * rewrite (reindex is rerunnable, so a crash mid-repair just repairs
    * again). The table swap remains as the fallback for a flattened
    * table, where leftover rows would otherwise merge with the rebuilt
    * entry. */
  def reindexTablet(
      tabletId: String,
      maxHeight: Long = Long.MaxValue,
      write: Boolean = true): Option[Long] =
    latestTabletSnapshot(tabletId, maxHeight).map { case (h, _) =>
      if (write) {
        val entry = tabletSnapshots
          .filter(col("tablet_id") === lit(tabletId) && col("at_height") === lit(h))
          .select("collection").limit(1).collect().head
        val collection = entry.getInt(0)
        val dir = f"s-$collection-${tabletHashOf(tabletId)}-$h%017d"
        if (pathExists(s"$snapshotsPath/$dir")) {
          val scoped = tabletRowsPruned(Seq(
              ManifestTable.StatsEq("tablet_id", tabletId),
              ManifestTable.StatsLte("height", h)))
            .filter(
              col("tablet_id") === lit(tabletId) && col("height") <= lit(h)).persist()
          try {
            val squelch = scoped.count()
            val idx = graft.snapshot.Snapshots
              .buildTabletIndex(scoped, tabletId, h).persist()
            try {
              if (idx.count() >= HeavyIndexRowWarning)
                Console.err.println(
                  s"[reindex] index pretty heavy: tablet=$tabletId at_height=$h")
              deletePath(s"$snapshotsPath/$dir")
              writeTabletSnapshot(idx, tabletId, h, squelch, collection)
            } finally idx.unpersist()
          } finally scoped.unpersist()
        } else
          reindexScoped(
            col("tablet_id") === lit(tabletId) && col("at_height") === lit(h),
            dryRun = false, HeavyIndexRowWarning)
      }
      h
    }

  private def reindexScoped(
      inScope: Column, dryRun: Boolean, heavyIndexRows: Long): (Long, Long) = {
    val snaps = tabletSnapshots
    val entries = snaps.filter(inScope)
      .select("collection", "tablet_id", "at_height").distinct().persist()
    try {
      val stats = entries.agg(countDistinct(col("tablet_id")), count(lit(1)))
        .collect().head
      val (tabletCount, indexCount) = (stats.getLong(0), stats.getLong(1))
      if (dryRun || indexCount == 0L) return (tabletCount, indexCount)

      // Same aggregation semantics as Snapshots.buildTabletIndex (durable
      // rows only; per-pk argmax of height; tombstones filtered AFTER the
      // argmax), generalized to every entry at once. A mutation row
      // participates in each of its tablet's indexes at or above its height
      // — exactly the reference's per-entry rebuild, as one shuffle.
      val rowsSlim = tabletRows
        .select(col("tablet_id"), col("height"), col("primary_key"), col("is_deletion"))
      val perPk = rowsSlim.join(entries, Seq("tablet_id"))
        .filter(col("height") <= col("at_height"))
        .groupBy("collection", "tablet_id", "at_height", "primary_key")
        .agg(
          max_by(struct(col("height"), col("is_deletion")), col("height")).as("w"),
          count(lit(1)).as("n_versions"))
        .persist()
      try {
        val perEntry = perPk.groupBy("collection", "tablet_id", "at_height")
          .agg(sum(col("n_versions")).as("squelch_count"),
            sum(when(col("w.is_deletion"), 0L).otherwise(1L)).as("n_index_rows"))
          .persist()
        try {
          // The reference flags serialized index values above 25 MB
          // (indexing.go:145–148); the columnar analogue is a row-count
          // threshold (1M (pk, height) pairs ≈ tens of MB).
          perEntry.filter(col("n_index_rows") >= lit(heavyIndexRows))
            .collect().foreach { r =>
              Console.err.println(
                s"[reindex] index pretty heavy: tablet=${r.getString(1)} " +
                  s"at_height=${r.getLong(2)} rows=${r.getLong(4)}")
            }
          val rebuilt = perPk.filter(!col("w.is_deletion"))
            .join(perEntry.select("collection", "tablet_id", "at_height", "squelch_count"),
              Seq("collection", "tablet_id", "at_height"))
            .select(col("collection"), col("tablet_id"), col("at_height"),
              col("squelch_count"), col("primary_key"), col("w.height").as("height"))
          rewriteTable(snapshotsPath, snaps.filter(!inScope).unionByName(rebuilt))
        } finally perEntry.unpersist()
      } finally perPk.unpersist()
      (tabletCount, indexCount)
    } finally entries.unpersist()
  }

  /** Apply the retention policy to one tablet's snapshot log
    * (PruneTabletIndexes, indexing.go:328–396 via
    * [[graft.snapshot.Snapshots.pruneRetention]]): keep first and last,
    * delete every `pruneFrequency`-th intermediate walking from the highest
    * height down; tablets with ≤ pruneFrequency + 2 snapshots are left
    * untouched.
    *
    * Physical deletion exploits the append-only layout: every snapshot is
    * committed as its OWN deterministic directory (`s-<coll>-<hash>-<h>`),
    * so pruning one is one directory delete — O(dropped snapshots), the
    * columnar equivalent of the reference's per-key KV delete, never a
    * table rewrite. Fallback: if any dropped height no longer has its own
    * directory (a reindex rewrote the table flat), prune that tablet via
    * the crash-safe swap as before. Returns the kept heights. */
  def pruneTabletSnapshots(tabletId: String, pruneFrequency: Int): Seq[Long] = {
    val heights = tabletSnapshots
      .filter(col("tablet_id") === lit(tabletId))
      .select("at_height").distinct().collect().map(_.getLong(0)).toSeq
    val keep = graft.snapshot.Snapshots.pruneRetention(heights, pruneFrequency)
    if (keep.toSet != heights.toSet) {
      val drop = heights.toSet -- keep.toSet
      val tabletHash = tabletHashOf(tabletId)
      val (fs, p) = fsPath(snapshotsPath)
      val dirByHeight: Map[Long, Path] = fs.listStatus(p)
        .filter(_.isDirectory).map(_.getPath)
        .flatMap { d =>
          d.getName.split("-") match {
            case Array("s", _, hash, h) if hash == tabletHash =>
              Some(h.toLong -> d)
            case _ => None
          }
        }.toMap
      if (drop.forall(dirByHeight.contains))
        drop.foreach(h => fs.delete(dirByHeight(h), true))
      else {
        val keepSet = keep.toSet
        rewriteTable(snapshotsPath, tabletSnapshots.filter(
          col("tablet_id") =!= lit(tabletId) ||
            col("at_height").isInCollection(keepSet)))
      }
    }
    keep
  }

  /** One row of one tablet as of `atHeight` (ReadTabletRowAt,
    * read.go:186–293) — the store-level facade over the pushed-predicate
    * point read. With a TabletIndex at or below `atHeight` the read takes
    * the snapshot route (the reference's point read consults the index
    * the same way, read.go:240–260): the key predicate prunes WITHIN
    * files, but only the snapshot's height floor lets the scan skip the
    * key's pre-snapshot history — whole FILES under the manifest
    * protocol, row groups under the height-sorted layout. Result is
    * identical to the full-history argmax either way (spec-pinned,
    * including tombstone/reinsert and speculative overlays). */
  def readTabletRowAt(
      tabletId: String,
      primaryKey: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil): DataFrame = {
    readMix.recordPointRead(tabletId)
    tabletSnapshotLookup(tabletId, atHeight, primaryKey = Some(primaryKey)) match {
      case Some(StateStore.SnapshotLookup(snapH, snap, _, _, keyBound)) =>
        // Snapshot route for the POINT read (read.go:240–260 consults the
        // index the same way): the key's snapshot entry pins its single
        // hydration height, so the scan is one row + the key's tail
        // (snapH, atHeight] — and that floor prunes manifest FILES, not
        // just row groups. An absent key (never written, or tombstoned at
        // snapH) hydrates nothing and resolves from the tail alone,
        // exactly like the full route.
        val keySnap = snap.filter(col("primary_key") === lit(primaryKey))
        val keyH = Some(keyBound)
        val src = tabletRowsPruned(Seq(
          ManifestTable.StatsEq("tablet_id", tabletId),
          ManifestTable.StatsEq("primary_key", primaryKey),
          ManifestTable.StatsGte("height",
            math.min(keyH.getOrElse(Long.MaxValue), snapH + 1)),
          ManifestTable.StatsLte("height", atHeight)))
        graft.snapshot.Snapshots.readTabletAtWithSnapshot(
          src.filter(col("primary_key") === lit(primaryKey)),
          keySnap, snapH, tabletId, atHeight,
          speculative.map(_.filter(col("primary_key") === lit(primaryKey))),
          keyH)
      case None =>
        graft.read.TemporalReads.readTabletRowAt(
          tabletRowsPruned(Seq(
            ManifestTable.StatsEq("tablet_id", tabletId),
            ManifestTable.StatsEq("primary_key", primaryKey),
            ManifestTable.StatsLte("height", atHeight))),
          tabletId, primaryKey, atHeight, speculative)
    }
  }

  /** HasSeenAnyRowForTablet (read.go:410–415): limit-1 existence probe. */
  def hasSeenAnyRowForTablet(tabletId: String): Boolean =
    graft.read.TemporalReads.hasSeenAnyRowForTablet(
      tabletRowsPruned(Seq(ManifestTable.StatsEq("tablet_id", tabletId))),
      tabletId)

  /** Latest entry of one singlet as of `atHeight` (read.go:300–349). */
  def readSingletEntryAt(
      singletId: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil): DataFrame =
    graft.read.TemporalReads.readSingletEntryAt(
      singletEntriesPruned(Seq(
        ManifestTable.StatsEq("singlet_id", singletId),
        ManifestTable.StatsLte("height", atHeight))),
      singletId, atHeight, speculative)

  /** Full history of one singlet, most recent first (read.go:356–408). */
  def readSingletEntries(
      singletId: String,
      speculative: Seq[DataFrame] = Nil): DataFrame =
    graft.read.TemporalReads.readSingletEntries(
      singletEntriesPruned(Seq(ManifestTable.StatsEq("singlet_id", singletId))),
      singletId, speculative)

  // ------------------------------------------------------------------
  // Sharding (parallel backfill) coordination
  // ------------------------------------------------------------------

  /** All shard checkpoints (read.go:439–476): prefix scan of "shard-*". */
  def shardCheckpoints(): DataFrame =
    checkpointsDF
      .filter(col("key").startsWith(ShardCheckpointPrefix))
      .groupBy(col("key"))
      .agg(max_by(struct(col("height"), col("block_id"), col("block_num")), col("height")).as("w"))
      .select(col("key"), col("w.height").as("height"), col("w.block_id").as("block_id"),
        col("w.block_num").as("block_num"))

  /** Shard-progress reconciliation (J3, write.go:82–181): classify every shard
    * against the highest shard height. Returns (key, height, status). */
  def verifyAllShardsWritten(expectedShards: Int): DataFrame = {
    val cps = shardCheckpoints()
    val refHeight = cps.agg(max(col("height"))).collect().headOption.flatMap(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]))
    import spark.implicits._
    val expected = (0 until expectedShards)
      .map(i => f"$ShardCheckpointPrefix$i%03d").toDF("key")
    expected
      .join(cps, Seq("key"), "left")
      .select(col("key"), col("height"),
        when(col("height").isNull, lit("missing"))
          .when(col("height") === lit(refHeight.getOrElse(-1L)), lit("complete"))
          .otherwise(lit("behind")).as("status"))
      .orderBy("key")
  }

  /** CheckCleanDBForSharding (read.go:439–452): sharding reprocessing must
    * start from a store with NO live-injector checkpoint — refuse loudly
    * otherwise. */
  def checkCleanForSharding(): Unit =
    require(
      checkpoint(GlobalCheckpointKey).isEmpty,
      "live injector's marker of last written block present, " +
        "expected no element to exist — refusing to shard into a dirty store")

  /** Sharding finalization (write.go:183–198 WriteShardingFinalCheckpoint +
    * DeleteAllShardCheckpoints): once every shard reports `complete`, write
    * the GLOBAL final checkpoint at the common shard head and drop the
    * per-shard checkpoints (the live injector takes over from here).
    * Refuses if any shard is missing or behind. */
  def finalizeSharding(expectedShards: Int): Checkpoint = {
    val statuses = verifyAllShardsWritten(expectedShards).collect()
    val notComplete = statuses.filter(_.getString(2) != "complete")
    require(
      notComplete.isEmpty,
      s"cannot finalize sharding: ${notComplete.map(r => s"${r.getString(0)}=${r.getString(2)}").mkString(", ")}")
    val head = shardCheckpoints()
      .orderBy(col("height").desc).limit(1).collect().head
    val cp = Checkpoint(
      GlobalCheckpointKey, head.getLong(1), head.getString(2), head.getLong(3))
    writeCheckpoint(cp)
    deleteAllShardCheckpoints()
    cp
  }

  /** DeleteAllShardCheckpoints (write.go:196–198): compacting rewrite of the
    * checkpoint log without the shard-* keys. */
  def deleteAllShardCheckpoints(): Unit = {
    rewriteTable(
      checkpointsPath,
      checkpointsDF.filter(!col("key").startsWith(ShardCheckpointPrefix)).coalesce(1),
      format = "json")
    cpCache.keys.filter(_.startsWith(ShardCheckpointPrefix)).foreach(cpCache.remove)
  }
}

object StateStore {
  /** Mutation-table commit protocol (class doc): [[RenameCommit]] stages
    * then atomically renames directories (HDFS/local); [[ManifestCommit]]
    * is the object-store-safe manifest-pointer protocol
    * ([[ManifestTable]]). Checkpoints and snapshots are unaffected: the
    * checkpoint log already writes deterministic single FILES (an atomic
    * PUT on object stores), and snapshot appends are operationally rare. */
  sealed trait CommitProtocol
  case object RenameCommit extends CommitProtocol
  case object ManifestCommit extends CommitProtocol

  /** One [[StateStore.tabletSnapshotLookup]] answer: the chosen
    * snapshot's height and `(primary_key, height)` rows, its
    * `min(height)` (hydration bound; Long.MaxValue when empty), its
    * stored squelch count, and the looked-up key's height in it
    * (Long.MaxValue when the key is absent or none was asked for). */
  final case class SnapshotLookup(atHeight: Long, rows: DataFrame,
      hydrationBound: Long, squelchCount: Long, keyBound: Long)

  /** Age guard for the mutation-table compaction's INLINE orphan sweep.
    *
    * DEFAULT = [[graft.store.ManifestTable.publishLeaseMillis]] +
    * [[graft.store.ManifestTable.publishRetryMillis]] (≈ 21 min unless
    * overridden): the compaction itself (replaceAllRetrying) is safe
    * beside live writers, and the default sweep must be too — a 0-age
    * sweep beside one can reclaim an in-flight commit's
    * not-yet-published directory (it is exactly "unreferenced" until its
    * pointer swap), which is data loss on the co-located deployments the
    * no-pause compaction invites. The lease alone is NOT the bound: a
    * commit blocked behind a reservation legitimately reuses its staged
    * directory for up to the lease (the takeover point) PLUS its retry
    * budget before publishing, so the threshold must clear lease + retry
    * or a sweep at the boundary could reclaim a staged directory an
    * instant before the blocked commit references it. A deployment that
    * KNOWS it is the only writer can opt into immediate reclamation with
    * `graft.compact.sweepMinAgeMs=0` (the r15 posture) — the unsafe
    * setting is the opt-in, not the default. */
  def compactSweepMinAgeMillis: Long =
    sys.props.get("graft.compact.sweepMinAgeMs")
      .orElse(sys.env.get("GRAFT_COMPACT_SWEEP_MIN_AGE_MS"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ >= 0).getOrElse(
        ManifestTable.publishLeaseMillis + ManifestTable.publishRetryMillis)

  /** Idle age past which a read-mix counter object is absorbed into the
    * shared snapshot ([[ReadMixStats.absorb]], run from
    * [[StateStore.compactTabletRowsAuto]]). Default = the publish lease:
    * a healthy instance flushes far more often than that (every 256
    * recordings or at each maintenance pass), and absorbing a
    * live-but-idle instance is harmless anyway — the max-merge format
    * re-adopts its next flush exactly. */
  def readMixAbsorbAgeMillis: Long =
    sys.props.get("graft.readmix.absorbAgeMs")
      .orElse(sys.env.get("GRAFT_READMIX_ABSORB_AGE_MS"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ >= 0).getOrElse(ManifestTable.publishLeaseMillis)

  /** Detect which commit protocol wrote the store at `root`: a manifest
    * table is unmistakable by its generation pointer. A reader that opens
    * a manifest store under [[RenameCommit]] would scan the raw `d-*`
    * attempt directories — including crashed uncommitted attempts and
    * pre-compaction generations not yet swept — so any read-only surface
    * taking a bare root (the SQL table function, tools) must go through
    * this instead of assuming a default. Empty/new roots detect as
    * [[RenameCommit]] (both protocols read an absent table as empty). */
  def detectProtocol(root: String)(implicit spark: SparkSession): CommitProtocol = {
    val p = new Path(s"$root/tablet_rows/_gen")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) || fs.exists(new Path(s"$root/singlet_entries/_gen")))
      ManifestCommit
    else RenameCommit
  }

  /** Per-tablet point-read vs tail-scan counters. A tablet PREFERS the
    * interleaved (z-ordered) compaction layout once its point reads
    * outnumber its tail scans — point reads are what the second
    * clustering dimension buys (measured 10× decode cut in the layout
    * probe), while a scan-dominated tablet keeps the height-sorted
    * layout's tighter height runs. Thread-safe; counts survive
    * compaction (the mix, not the layout, is the signal).
    *
    * PERSISTED (when constructed with a path, as the store does): the
    * counters seed from storage at construction and flush back every
    * `flushEvery` recordings (plus explicitly at each
    * [[StateStore.compactTabletRowsAuto]] decision), so the layout
    * choice survives process churn — a fresh process no longer compacts
    * height-sorted for lack of evidence its predecessor had. At most
    * `flushEvery − 1` recordings are lost to a crash, which only ever
    * delays a layout flip (the reference's analogous counters lose
    * EVERYTHING on restart, indexing.go:486–583). Tablet ids travel
    * base64 so no delimiter in an id can corrupt a line.
    *
    * MULTI-WRITER SAFE (one delta object per instance): each instance
    * persists ONLY its own cumulative counts, as one tiny object under
    * `<path>.d/<instance-id>` swapped via tmp+rename (the tmp name is
    * instance-unique too); the fleet view is the SUM of every instance's
    * object plus the legacy single file at `<path>`, re-read at each
    * flush. No shared object is ever read-modify-written, so there is no
    * interleaving in which one writer's counts are lost — the previous
    * single-file merge-on-flush could drop one in-flight delta when two
    * flushes raced the read-modify-write (no object-store CAS to build
    * on); summing private objects needs no CAS at all. The legacy file
    * is read-only evidence (pre-upgrade processes' counts still count);
    * instance objects from dead processes simply keep contributing their
    * final counts, which is the semantics — evidence is cumulative.
    *
    * NEVER blocks or throws on a read path: threshold flushes are handed
    * to a shared single-thread background executor (recording itself is
    * a map bump under the lock), all flush I/O runs OUTSIDE the instance
    * lock, and every fault — seed-time included — degrades to
    * warn-and-continue-in-memory (a wrong layout is a perf miss, not
    * wrong contents). A failed flush keeps its delta for retry. A
    * corrupt counters object reads as empty WITHOUT poisoning the rest
    * of the fleet's objects (per-file parse isolation). */
  final class ReadMixStats(
      persistTo: Option[(org.apache.hadoop.conf.Configuration, String)] = None,
      flushEvery: Int = 256) {
    private val log = org.slf4j.LoggerFactory.getLogger(classOf[ReadMixStats])
    // `base*` = the rest of the fleet's persisted evidence (legacy single
    // file + every OTHER instance's delta object, re-read at flushes);
    // `ownFlushed*` = what THIS instance has already persisted to its own
    // object; `delta*` = this instance's unflushed increments. Visible
    // counts are base + ownFlushed + delta. Guarded by `this`; flush I/O
    // never runs under it. ownFlushed* is only MUTATED under `flushLock`
    // (single flush at a time), read under `this`.
    private val basePoints = scala.collection.mutable.Map.empty[String, Long]
    private val baseScans = scala.collection.mutable.Map.empty[String, Long]
    private val ownFlushedPoints = scala.collection.mutable.Map.empty[String, Long]
    private val ownFlushedScans = scala.collection.mutable.Map.empty[String, Long]
    private val deltaPoints = scala.collection.mutable.Map.empty[String, Long]
    private val deltaScans = scala.collection.mutable.Map.empty[String, Long]
    private var dirty = 0
    private var warnedUnwritable = false
    private val flushLock = new Object // serializes whole flushes
    private val flushQueued = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Test hook: runs inside [[absorb]] after the snapshot rename,
      * immediately before the source-delete loop — the window where a
      * racing flush can replace a folded object in place. Specs
      * interleave exactly that to pin the (len, mtime) verify. */
    private[graft] var beforeAbsorbDeleteHook: () => Unit = () => ()
    /** This instance's private object name — unique per instance
      * LIFETIME, so no two live writers (or a writer and its own
      * restart) ever touch the same object. */
    private val instanceId =
      java.util.UUID.randomUUID().toString.replace("-", "")
    private def legacyFsPath: Option[(FileSystem, Path)] = persistTo.map {
      case (conf, p) => val path = new Path(p); (path.getFileSystem(conf), path) }
    private def deltaDirFsPath: Option[(FileSystem, Path)] = persistTo.map {
      case (conf, p) =>
        val path = new Path(p + ".d"); (path.getFileSystem(conf), path) }
    locally {
      // Everything inside the try — including getFileSystem/exists: a
      // transient filesystem fault at construction must degrade to the
      // same warn-and-start-empty path the flush side follows, not
      // propagate out of the StateStore constructor.
      try refreshBase()
      catch {
        case scala.util.control.NonFatal(e) =>
          this.synchronized { basePoints.clear(); baseScans.clear() }
          log.warn("unreadable read-mix counters — starting empty (layout " +
            "choice falls back to height-sorted until re-observed)", e)
      }
    }
    /** Re-read the fleet's persisted evidence — the legacy single file,
      * every OTHER instance's delta object, and the absorbed snapshots
      * ([[absorb]]) — and adopt the sum as the base view.
      *
      * Per-INSTANCE views are merged by elementwise MAX, never addition:
      * an instance's object is its cumulative monotone total, so when
      * both an absorbed snapshot and a live object (or two absorbed
      * snapshots from racing absorbers) exist for the same instance, the
      * larger value IS that instance's total. This is what makes
      * absorption exact with zero coordination — absorbing a
      * live-but-idle instance's object double-counts nothing, because
      * its next flush recreates the object and the max picks the fresher
      * cumulative view. The fleet sum is then Σ over instances.
      *
      * Parse faults inside ONE object read as empty (per-file isolation,
      * [[readFile]]/[[readAbsorbed]]); I/O faults propagate (the caller
      * decides whether that loses anything). */
    private def refreshBase(): Unit = {
      val per = perInstanceViews(excludeOwn = true)
      val mp = scala.collection.mutable.Map.empty[String, Long]
      val ms = scala.collection.mutable.Map.empty[String, Long]
      per.values.foreach { case (pc, sc) =>
        pc.foreach { case (t, v) => mp.update(t, mp.getOrElse(t, 0L) + v) }
        sc.foreach { case (t, v) => ms.update(t, ms.getOrElse(t, 0L) + v) }
      }
      this.synchronized {
        basePoints.clear(); basePoints ++= mp
        baseScans.clear(); baseScans ++= ms
      }
    }

    /** THE max-merge invariant, in one place: fold `counts` into `per`'s
      * view for `iid` by elementwise MAX. Both the reader side
      * ([[perInstanceViews]]) and the absorber's fold ([[absorb]]) go
      * through this single helper — the absorption exactness argument
      * rests entirely on the two sides merging identically. */
    private type PerInstance = scala.collection.mutable.Map[
      String, (scala.collection.mutable.Map[String, Long],
               scala.collection.mutable.Map[String, Long])]
    private def maxMergeInto(per: PerInstance, iid: String,
        counts: (Map[String, Long], Map[String, Long])): Unit = {
      val (mp, ms) = per.getOrElseUpdate(iid,
        (scala.collection.mutable.Map.empty[String, Long],
         scala.collection.mutable.Map.empty[String, Long]))
      counts._1.foreach { case (t, v) =>
        if (v > mp.getOrElse(t, 0L)) mp.update(t, v) }
      counts._2.foreach { case (t, v) =>
        if (v > ms.getOrElse(t, 0L)) ms.update(t, v) }
    }

    /** The fleet's persisted per-instance cumulative views, elementwise
      * MAX-merged across live objects and absorbed snapshots (see
      * [[refreshBase]] for why max). The legacy pre-delta file reads as
      * one synthetic instance. */
    private def perInstanceViews(excludeOwn: Boolean): PerInstance = {
      val per: PerInstance = scala.collection.mutable.Map.empty
      legacyFsPath.foreach { case (fs, p) =>
        if (fs.exists(p)) maxMergeInto(per, "_legacy", readFile(fs, p))
      }
      deltaDirFsPath.foreach { case (fs, d) =>
        if (fs.exists(d)) fs.listStatus(d).foreach { st =>
          val name = st.getPath.getName
          if (st.isFile && !name.endsWith(".tmp")) {
            if (name.startsWith("absorbed-"))
              readAbsorbed(fs, st.getPath).foreach { case (iid, counts) =>
                if (!excludeOwn || iid != instanceId)
                  maxMergeInto(per, iid, counts)
              }
            else if (!excludeOwn || name != instanceId)
              maxMergeInto(per, name, readFile(fs, st.getPath))
          }
        }
      }
      per
    }

    /** MAINTENANCE: fold per-instance objects untouched for
      * `minAgeMillis` (dead or long-idle instances) plus every prior
      * absorbed snapshot into ONE new absorbed object, then delete the
      * folded sources — bounding the delta directory at (live instances
      * + 1) objects instead of one per instance LIFETIME. Exact under
      * races by FORMAT, not locking: absorbed entries keep their
      * per-instance identity and readers MAX-merge them with any live
      * object for the same instance ([[refreshBase]]), so absorbing a
      * live-but-idle instance loses nothing (its next flush recreates
      * the object and the max adopts it), a crash between the snapshot
      * rename and the source deletes leaves only redundant objects whose
      * max equals either alone, and two RACING absorbers produce two
      * snapshots that max-merge to identical sums and collapse to one at
      * the next pass. A flush REPLACING a source object mid-fold is
      * caught by the (len, mtime) verify before its delete — the
      * replacement stays live and the next pass absorbs it; the residual
      * check-to-delete instant is micro-seconds against a minAge of
      * minutes, worst case one flush window of a layout heuristic. No
      * reservation needed — the identity-preserving format is the
      * arbitration. Returns the number of instance objects folded. */
    def absorb(minAgeMillis: Long): Int = flushLock.synchronized {
      deltaDirFsPath match {
        case None => 0
        case Some((fs, d)) =>
          if (!fs.exists(d)) return 0
          val now = System.currentTimeMillis()
          val sts = fs.listStatus(d).filter(_.isFile)
          val priorAbsorbed = sts.filter(
            _.getPath.getName.startsWith("absorbed-"))
          val deadObjs = sts.filter { st =>
            val n = st.getPath.getName
            !n.startsWith("absorbed-") && !n.endsWith(".tmp") &&
              n != instanceId &&
              now - st.getModificationTime >= minAgeMillis
          }
          // Stale .tmp debris (a crashed flush or absorber) is never
          // live and never folded — reclaim it past the same age gate so
          // failed passes can't grow the directory this feature bounds.
          sts.filter { st =>
            st.getPath.getName.endsWith(".tmp") &&
              now - st.getModificationTime >= math.max(minAgeMillis, 60000L)
          }.foreach { st =>
            try { fs.delete(st.getPath, false); () }
            catch { case scala.util.control.NonFatal(_) => () }
          }
          if (deadObjs.isEmpty && priorAbsorbed.length <= 1) return 0
          try {
            val per: PerInstance = scala.collection.mutable.Map.empty
            priorAbsorbed.foreach(st =>
              readAbsorbed(fs, st.getPath).foreach { case (iid, counts) =>
                maxMergeInto(per, iid, counts) })
            deadObjs.foreach(st =>
              maxMergeInto(per, st.getPath.getName, readFile(fs, st.getPath)))
            val snapName = "absorbed-" +
              java.util.UUID.randomUUID().toString.replace("-", "")
            val tmp = new Path(d, snapName + ".tmp")
            val body = per.toSeq.sortBy(_._1).flatMap { case (iid, (mp, ms)) =>
              (mp.keySet ++ ms.keySet).toSeq.sorted.map { t =>
                val b64 = java.util.Base64.getEncoder
                  .encodeToString(t.getBytes("UTF-8"))
                s"$iid $b64 ${mp.getOrElse(t, 0L)} ${ms.getOrElse(t, 0L)}"
              }
            }.mkString("", "\n", "\n")
            try {
              val out = fs.create(tmp, true)
              try out.write(body.getBytes("UTF-8")) finally out.close()
              val snap = new Path(d, snapName)
              if (!fs.rename(tmp, snap))
                sys.error(s"could not persist absorbed read-mix snapshot $snap")
            } catch {
              case e: Throwable =>
                // Don't leave this pass's tmp behind on failure.
                try { fs.delete(tmp, false); () }
                catch { case scala.util.control.NonFatal(_) => () }
                throw e
            }
            // Sources folded into the durable snapshot: reclaim them —
            // but VERIFY each object is still the one we folded first
            // ((len, mtime) from the pre-fold listing). A live
            // instance's flush landing during the fold replaces the
            // object in place; deleting the replacement would discard
            // its already-durable counts with only the stale snapshot
            // value surviving. A changed object is left live — the
            // snapshot max-merges against it, sums stay exact, and the
            // next pass absorbs it. (The residual check-to-delete
            // instant is micro-seconds against a minAge of minutes, and
            // its worst case loses one flush window of a layout
            // heuristic, not data.) A delete failure likewise leaves
            // only max-identical redundancy, never wrong sums.
            beforeAbsorbDeleteHook()
            (priorAbsorbed ++ deadObjs).foreach { st =>
              try {
                val cur = fs.getFileStatus(st.getPath)
                if (cur.getLen == st.getLen &&
                    cur.getModificationTime == st.getModificationTime) {
                  fs.delete(st.getPath, false); ()
                }
              }
              catch { case scala.util.control.NonFatal(_) => () }
            }
            try refreshBase()
            catch { case scala.util.control.NonFatal(_) => () }
            deadObjs.length
          } catch {
            case scala.util.control.NonFatal(e) =>
              log.warn("read-mix absorption failed — objects left in " +
                "place (sums unaffected), will retry next maintenance", e)
              0
          }
      }
    }

    /** Parse one absorbed snapshot: `instanceId b64(tablet) points
      * scans` per line, per-instance cumulative views. Parse faults read
      * as empty, same per-file isolation as [[readFile]]. */
    private def readAbsorbed(fs: FileSystem, p: Path)
        : Seq[(String, (Map[String, Long], Map[String, Long]))] = {
      val in = fs.open(p)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      try {
        val per = scala.collection.mutable.LinkedHashMap.empty[String,
          (scala.collection.mutable.Map[String, Long],
           scala.collection.mutable.Map[String, Long])]
        text.linesIterator.filter(_.nonEmpty).foreach { line =>
          val Array(iid, b64, pc, sc) = line.split(" ", 4)
          val t = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
          val (mp, ms) = per.getOrElseUpdate(iid,
            (scala.collection.mutable.Map.empty[String, Long],
             scala.collection.mutable.Map.empty[String, Long]))
          if (pc.toLong > 0L) mp.update(t, pc.toLong)
          if (sc.toLong > 0L) ms.update(t, sc.toLong)
        }
        per.toSeq.map { case (iid, (mp, ms)) => (iid, (mp.toMap, ms.toMap)) }
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"corrupt absorbed read-mix snapshot at $p — reading " +
            "as empty (live objects still count)", e)
          Seq.empty
      }
    }
    /** Parse one persisted counters object. I/O faults propagate; PARSE
      * faults — a torn or corrupt object — warn and read as empty, so
      * one bad object cannot poison the fleet sum. */
    private def readFile(fs: FileSystem, p: Path): (Map[String, Long], Map[String, Long]) = {
      val in = fs.open(p)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      try {
        val pts = scala.collection.mutable.Map.empty[String, Long]
        val scs = scala.collection.mutable.Map.empty[String, Long]
        text.linesIterator.filter(_.nonEmpty).foreach { line =>
          val Array(b64, pc, sc) = line.split(" ", 3)
          val t = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
          if (pc.toLong > 0L) pts.update(t, pc.toLong)
          if (sc.toLong > 0L) scs.update(t, sc.toLong)
        }
        (pts.toMap, scs.toMap)
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"corrupt read-mix counters at $p — reading as empty " +
            "(the rest of the fleet's objects still count)", e)
          (Map.empty, Map.empty)
      }
    }
    /** One full flush: SNAPSHOT (without clearing) this instance's
      * delta, write own object = ownFlushed + delta via tmp+rename, then
      * move the flushed snapshot from the delta into ownFlushed and
      * refresh the base view. Because the delta is never cleared up
      * front, visible counts (base + ownFlushed + delta) hold steady
      * through the whole I/O window — no transient dip for concurrent
      * observers — and a failed flush needs NO restore step: the delta
      * was never touched, the retry credit is just a dirty floor. A
      * persistTo-less instance is purely in-memory: flush is a no-op and
      * nothing is ever discarded. */
    private def flushNow(): Unit = flushLock.synchronized {
      if (persistTo.isEmpty) return
      val (dp, ds) = this.synchronized {
        (deltaPoints.toMap, deltaScans.toMap)
      }
      if (dp.isEmpty && ds.isEmpty) {
        // Nothing to contribute: refresh the base view only, so a
        // decision on a process that recorded nothing still adopts the
        // fleet's persisted evidence (no write — don't churn storage).
        try refreshBase()
        catch { case scala.util.control.NonFatal(_) => () }
        return
      }
      try deltaDirFsPath.foreach { case (fs, d) =>
        val (ofp, ofs) = this.synchronized {
          (ownFlushedPoints.toMap, ownFlushedScans.toMap)
        }
        val mp = ofp ++ dp.map { case (t, v) => t -> (ofp.getOrElse(t, 0L) + v) }
        val ms = ofs ++ ds.map { case (t, v) => t -> (ofs.getOrElse(t, 0L) + v) }
        val p = new Path(d, instanceId)
        val tmp = new Path(d, instanceId + ".tmp")
        fs.mkdirs(d)
        val out = fs.create(tmp, true)
        val body = (mp.keySet ++ ms.keySet).toSeq.sorted.map { t =>
          val b64 = java.util.Base64.getEncoder
            .encodeToString(t.getBytes("UTF-8"))
          s"$b64 ${mp.getOrElse(t, 0L)} ${ms.getOrElse(t, 0L)}"
        }.mkString("", "\n", "\n")
        try out.write(body.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, p)) {
          if (fs.exists(p)) fs.delete(p, false)
          if (!fs.rename(tmp, p))
            sys.error(s"could not persist read-mix counters to $p")
        }
        this.synchronized {
          ownFlushedPoints.clear(); ownFlushedPoints ++= mp
          ownFlushedScans.clear(); ownFlushedScans ++= ms
          // Subtract exactly what was flushed; recordings that landed
          // during the I/O stay in the delta for the next flush.
          dp.foreach { case (t, v) =>
            val left = deltaPoints.getOrElse(t, 0L) - v
            if (left > 0L) deltaPoints.update(t, left) else deltaPoints.remove(t)
          }
          ds.foreach { case (t, v) =>
            val left = deltaScans.getOrElse(t, 0L) - v
            if (left > 0L) deltaScans.update(t, left) else deltaScans.remove(t)
          }
          dirty = math.max(0,
            dirty - (dp.values.sum + ds.values.sum).toInt)
        }
        // Adopt the rest of the fleet's evidence while we're here (a
        // refresh failure must not mark the flush failed — our own
        // object landed).
        try refreshBase()
        catch { case scala.util.control.NonFatal(_) => () }
      } catch {
        case scala.util.control.NonFatal(e) =>
          // Delta untouched (snapshot never cleared) — nothing to
          // restore. Cap the retry cadence at half a window so a
          // PERMANENTLY broken store doesn't pay one failed I/O per
          // recording; an explicit flush (decision path / exit hooks)
          // retries immediately either way.
          this.synchronized { dirty = math.min(dirty, flushEvery / 2) }
          if (!warnedUnwritable) {
            warnedUnwritable = true
            log.warn("read-mix counters not persistable (read-only store? " +
              "transient fault?) — continuing in-memory, will retry", e)
          }
      }
    }
    def flush(): Unit = flushNow()
    private def bump(m: scala.collection.mutable.Map[String, Long],
        tabletId: String): Unit = {
      m.update(tabletId, m.getOrElse(tabletId, 0L) + 1L)
      dirty += 1
      // Hand the threshold flush to the background executor: recording
      // happens on read paths (point reads, Catalyst analysis via
      // StateAsOfRule) and must never wait on storage I/O. At most one
      // queued flush at a time; it drains whatever delta exists when it
      // runs. In-memory-only instances never queue (nothing to flush to).
      if (persistTo.nonEmpty &&
          dirty >= flushEvery && flushQueued.compareAndSet(false, true))
        StateStore.readMixFlushExec.execute(() =>
          try flushNow() finally flushQueued.set(false))
    }
    def recordPointRead(tabletId: String): Unit =
      synchronized(bump(deltaPoints, tabletId))
    def recordTailScan(tabletId: String): Unit =
      synchronized(bump(deltaScans, tabletId))
    def pointReads(tabletId: String): Long = synchronized(
      basePoints.getOrElse(tabletId, 0L) +
        ownFlushedPoints.getOrElse(tabletId, 0L) +
        deltaPoints.getOrElse(tabletId, 0L))
    def tailScans(tabletId: String): Long = synchronized(
      baseScans.getOrElse(tabletId, 0L) +
        ownFlushedScans.getOrElse(tabletId, 0L) +
        deltaScans.getOrElse(tabletId, 0L))
    /** Interleave when point reads strictly outnumber tail scans (an
      * unobserved or balanced tablet keeps the height-sorted default —
      * the cheaper layout to be wrong about, since tail scans are the
      * store's own maintenance access path too). The counts are the
      * UNION of the fleet's persisted evidence and this instance's own —
      * [[StateStore.compactTabletRowsAuto]] flushes first, which both
      * contributes this process's delta and adopts everyone else's. */
    def prefersInterleaved(tabletId: String): Boolean = {
      val p = pointReads(tabletId)
      p > 0L && p > tailScans(tabletId)
    }
    def observedTablets: Seq[String] = synchronized(
      (basePoints.keySet ++ baseScans.keySet ++
        ownFlushedPoints.keySet ++ ownFlushedScans.keySet ++
        deltaPoints.keySet ++ deltaScans.keySet).toSeq.sorted)
  }

  /** Shared daemon executor for [[ReadMixStats]] threshold flushes —
    * single thread (flushes are tiny tmp+rename writes) so no store ever
    * sees more than one counter write in flight from this process. */
  private lazy val readMixFlushExec: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-readmix-flush")
      t.setDaemon(true)
      t
    })

  val GlobalCheckpointKey = "checkpoint" // const.go:17
  val ShardCheckpointPrefix = "shard-"   // read.go:454–464
  /** Row-count analogue of the reference's 25 MB heavy-index warning
    * (indexing.go:145–148). */
  val HeavyIndexRowWarning = 1000000L

  val tabletRowCols =
    Seq("collection", "tablet_id", "height", "primary_key", "value", "is_deletion")
  val singletEntryCols = Seq("collection", "singlet_id", "height", "value", "is_deletion")
}

/** Parallel backfill (reference sharder.go + shardinject.go, SURVEY.md §3.3).
  *
  * The reference splits the mutation stream into N shards by
  * `highwayhash(entity_key) % N` so all versions of one entity land in one
  * shard (sharder.go:107–192), writes per-shard segment files, then replays
  * each shard through the writer in a separate process. In Spark the shuffle
  * IS the sharder and the driver IS the reconciler: one batch job
  * repartitions by entity hash, sorts within partitions by height, and writes
  * partitioned output — this is the shape that scales to 100 TB (the
  * per-entity co-location means downstream as-of reads never cross shards).
  */
object Backfill {

  /** Shard expression: deterministic hash of the entity key, non-negative. */
  def shardExpr(n: Int) =
    pmod(hash(col("collection"), col("tablet_id")), lit(n)).cast("int")

  /** One-shot backfill: mutations → shard-partitioned, height-sorted Parquet.
    * `mutations` must carry the tablet_rows schema. `blockRefs` (height,
    * block_id, block_num) is the height→block mapping the sharder saw
    * (WriteRequest.block in the reference, sharder.go:107–192); it rides
    * along under `_blockrefs` (underscore: hidden from the shard-data
    * listing) so [[injectShard]] can checkpoint the REAL (id, num) pair at
    * the stop height — the reference's WriteShardingFinalCheckpoint relies
    * on that block ref for fork resolution at handoff. */
  def run(
      mutations: DataFrame,
      outPath: String,
      shards: Int,
      blockRefs: Option[DataFrame] = None): Unit = {
    mutations
      .withColumn("shard", shardExpr(shards))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("tablet_id", "primary_key", "height")
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(outPath)
    blockRefs.foreach(
      _.select(col("height"), col("block_id"), col("block_num"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$outPath/_blockrefs"))
  }

  /** Replay one shard's segment into a live store (shardinject.go:48–174),
    * skipping heights at or below the shard checkpoint (startAfter). The
    * commit id is deterministic per (shard, startAfter): a crash between the
    * data write and the shard checkpoint replays as a skip, not a duplicate.
    * Injection refuses a store the live injector already checkpointed
    * (CheckCleanDBForSharding, read.go:439–452). */
  def injectShard(
      spark: SparkSession,
      shardPath: String,
      shard: Int,
      store: StateStore,
      startAfter: Long = -1L): Unit = {
    store.checkCleanForSharding()
    val all = spark.read.parquet(shardPath)
    val seg = all.filter(col("shard") === lit(shard))
      .filter(col("height") > lit(startAfter))
      .drop("shard")
    store.writeTabletRows(
      seg.select(StateStore.tabletRowCols.map(col): _*),
      f"shard$shard%03d-after$startAfter")
    // Every shard replays the same [start, stop] block range, so its
    // checkpoint is the GLOBAL stop height — not this shard's own max row
    // height (a shard whose entities stop mutating early still completed
    // the range; shardinject.go checkpoints the last processed block, and
    // verifyAllShardsWritten classifies "complete" by this common height).
    val headRow = all.agg(max(col("height"))).collect().head
    if (!headRow.isNullAt(0)) {
      val stop = headRow.getLong(0)
      // The real block ref at the stop height, when the sharder recorded
      // one (_blockrefs): finalizeSharding copies this into the global
      // final checkpoint, where fork resolution at handoff needs a real
      // (id, num) — not an empty id. Stores sharded without blockRefs
      // fall back to ("", stop): documented as "no fork resolution from
      // the post-sharding checkpoint".
      val refPath = s"$shardPath/_blockrefs"
      val (blockId, blockNum) =
        if (store.pathExists(refPath)) {
          spark.read.parquet(refPath)
            .filter(col("height") === lit(stop))
            .select("block_id", "block_num")
            .collect()
            .headOption
            .map(r => (r.getString(0), r.getLong(1)))
            .getOrElse(("", stop))
        } else ("", stop)
      store.writeCheckpoint(Checkpoint(
        f"${StateStore.ShardCheckpointPrefix}$shard%03d", stop, blockId, blockNum))
    }
  }

  /** Replay a REFERENCE-FORMAT shard segment file (`.dbin` /
    * `.dbin.zst`, content `fwr` v1 — what sharder.go:80–103 ships and
    * shardinject.go:133–160 reads) into a live store: the interop path
    * for a deployment migrating off the reference with its segment
    * archive intact. Same contract as [[injectShard]]: refuses a store
    * the live injector already checkpointed, skips heights at or below
    * `startAfter`, commit id deterministic per (shard, startAfter) so a
    * crash replays as a skip, shard checkpoint at the segment's LAST
    * request (whose block ref rides in the record — no `_blockrefs`
    * sidecar needed, the reference put it in every record). Segments are
    * block-range-sized by the reference's own batching; the decode is
    * driver-side and bounded by that contract. `identifierLen` is the
    * embedder's collection→identifier-width registry, exactly the
    * knowledge the reference's key-parsing factories carry. */
  def injectDbinSegment(
      spark: SparkSession,
      segmentFile: String,
      shard: Int,
      store: StateStore,
      identifierLen: Map[Int, Int],
      startAfter: Long = -1L): Int = {
    store.checkCleanForSharding()
    val p = new org.apache.hadoop.fs.Path(segmentFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val payloads =
      try graft.model.DbinCodec.readShardSegment(
        in, if (startAfter >= 0) Some(startAfter) else None)
      finally in.close()
    if (payloads.isEmpty) return 0
    val requests = payloads.map(graft.model.DbinCodec.toModel(_, identifierLen))
    import spark.implicits._
    val dir = f"dbin-shard$shard%03d-after$startAfter"
    val rows = requests.flatMap(_.tabletRows)
    val entries = requests.flatMap(_.singletEntries)
    if (rows.nonEmpty)
      store.writeTabletRows(rows.toDF(StateStore.tabletRowCols: _*), dir)
    if (entries.nonEmpty)
      store.writeSingletEntries(
        entries.toDF(StateStore.singletEntryCols: _*), dir)
    // Checkpoint LAST (the durability barrier). For a conforming
    // reference segment the final record IS the range stop: the sharder
    // writes one WriteRequest per block to EVERY shard, height/block ref
    // set even when the shard got no entries (sharder.go:152–176), so
    // shards whose entities stop mutating early still end at the common
    // stop and verifyAllShardsWritten classifies them complete. Guard
    // the non-conforming case anyway: the segment file name carries the
    // range (`<start>-<stop>.dbin.zst`, parseFileName parity) — if it
    // claims a LATER stop than the last record, checkpoint the global
    // stop (empty block id, same fallback injectShard documents).
    val last = requests.last
    def digits(s: String) = s.nonEmpty && s.length <= 18 && s.forall(_.isDigit)
    val nameStop = p.getName.split("\\.", 2)(0).split("-") match {
      case Array(a, b) if digits(a) && digits(b) => Some(b.toLong)
      case _ => None
    }
    // The range is in BLOCK numbers, so the conformance comparison is
    // against the last record's block num — not its height (the model
    // carries them separately; a fork-heavy chain can have heights lag
    // block nums, and a height comparison would misclassify a conforming
    // segment and fabricate a checkpoint that makes the next segment's
    // startAfter skip real records).
    val cp = nameStop.filter(_ > last.block.num)
      .map(stop => Checkpoint(
        f"${StateStore.ShardCheckpointPrefix}$shard%03d", stop, "", stop))
      .getOrElse(Checkpoint(
        f"${StateStore.ShardCheckpointPrefix}$shard%03d",
        last.height, last.block.id, last.block.num))
    store.writeCheckpoint(cp)
    requests.size
  }
}
