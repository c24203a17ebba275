package graft

import graft.model._
import graft.store.{Backfill, StateStore}
import org.apache.spark.sql.functions.col

class StateStoreSpec extends SparkTestBase {

  private def req(h: Long, rows: (String, String, String)*): WriteRequest =
    WriteRequest(h, BlockRef(s"blk-$h", h),
      rows.map { case (t, pk, v) =>
        TabletRowM(1, t, h, pk, v.getBytes("UTF-8"), v.isEmpty) },
      Nil)

  test("writeBatch appends rows and the checkpoint last; reads round-trip") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(req(0, ("t1", "a", "a0")), req(1, ("t1", "b", "b1"))))
    assert(store.tabletRows.count() === 2)
    val cp = store.checkpoint(StateStore.GlobalCheckpointKey).get
    assert(cp.height === 1L && cp.blockId === "blk-1")
    // Store-level point read + existence facades.
    val row = store.readTabletRowAt("t1", "a", 5L).collect()
    assert(row.length === 1 && row.head.getString(0) === "a")
    assert(store.hasSeenAnyRowForTablet("t1"))
    assert(!store.hasSeenAnyRowForTablet("t-unknown"))
  }

  test("diff durability: localCheckpoint block loss fails a held diff " +
    "LOUDLY and a re-plan recovers; with a checkpoint dir configured the " +
    "diff is reliably checkpointed and survives block loss") {
    implicit val s = spark
    import org.apache.spark.sql.graftbridge.GraftBridge
    val store = new StateStore(tmpDir("diff-durability"), StateStore.ManifestCommit)
    store.writeBatch(Seq(
      req(0, ("t1", "a", "a0")), req(1, ("t1", "b", "b1")),
      req(2, ("t1", "a", "a2")), req(3, ("t1", "b", ""))))
    def evs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("primary_key"),
        r.getAs[String]("change_type"), r.getAs[Long]("change_height"))).toSeq
    val d = store.readTabletDiff("t1", 0L, 3L)
    val expected = evs(d)
    assert(expected.nonEmpty)
    // Simulated executor loss: the localCheckpoint blocks vanish. A later
    // read of the HELD frame must fail loudly (a localCheckpoint has no
    // lineage — silent partial data would be the disaster case)...
    GraftBridge.freeLocalCheckpoint(d)
    val e = intercept[Exception] { d.collect() }
    assert(e.getMessage.toLowerCase.contains("checkpoint") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("checkpoint")),
      s"block loss must surface as a checkpoint failure, got: ${e.getMessage}")
    // ...and the recovery is a re-plan (the diff read is pure).
    assert(evs(store.readTabletDiff("t1", 0L, 3L)) === expected)
    // Production posture: with a checkpoint dir, the diff materializes to
    // FILES — block loss does not kill a held frame.
    GraftBridge.withCheckpointDir(spark, tmpDir("diff-ckdir")) {
      val d2 = store.readTabletDiff("t1", 0L, 3L)
      GraftBridge.freeLocalCheckpoint(d2) // drops blocks; files remain
      assert(evs(d2) === expected,
        "a reliably-checkpointed diff must survive block loss")
      // FILE HYGIENE: reliable-checkpoint files are only auto-reclaimed
      // under cleanCheckpoints=true, so a released diff must have a
      // file-deleting verb — freeCheckpoint removes the rdd-N/ directory.
      val ckFiles = d2.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile
      }.flatten
      assert(ckFiles.nonEmpty, "durable diff must carry a checkpoint file")
      val ckPath = new org.apache.hadoop.fs.Path(ckFiles.head)
      val fs = ckPath.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(ckPath), "checkpoint files exist while the diff is held")
      GraftBridge.freeCheckpoint(d2)
      assert(!fs.exists(ckPath),
        "freeCheckpoint must delete the released diff's checkpoint files")
    }
    // The setting did not leak into the shared session.
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("store asOfJoin: identical result with and without a snapshot, " +
    "and a snapshot inside the ignore-range is not consulted") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(
      req(0, ("t1", "a", "a0")), req(1, ("t1", "b", "b1")),
      req(2, ("t1", "a", "a2")), req(3, ("t1", "b", "")), // b tombstoned
      req(4, ("t1", "c", "c4")), req(5, ("t1", "a", "a5"))))
    val probes = Seq(
      (1L, "t1", "a", 1L),  // below any snapshot → fallback route, a0
      (2L, "t1", "a", 5L),  // a5
      (3L, "t1", "b", 5L),  // tombstoned at 3 → null
      (4L, "t1", "c", 3L),  // first write at 4 → null
      (5L, "t1", "zz", 5L)) // never written → null
      .toDF("probe_id", "tablet_id", "primary_key", "at_height")
    def render(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None
         else Some((r.getLong(4),
           new String(r.getAs[Array[Byte]](5), "UTF-8"))))).toSeq
    val noSnapshot = render(store.asOfJoin("t1", probes))
    assert(noSnapshot.map(_._2) === Seq(Some((0L, "a0")), Some((5L, "a5")),
      None, None, None))
    // Snapshot at 3: probes 2–5 take the pruned route, probe 1 falls back.
    store.writeTabletSnapshot(
      graft.snapshot.Snapshots.buildTabletIndex(store.tabletRows, "t1", 3L),
      "t1", 3L, 4L)
    assert(render(store.asOfJoin("t1", probes)) === noSnapshot)
    // A snapshot inside the corrupted window must not be consulted — and
    // with no usable snapshot below it, the join degrades to the full
    // history route, still exact (fetchIndex parity, indexing.go:303–326).
    assert(render(store.asOfJoin("t1", probes,
      ignoreRange = Some((2L, 4L)))) === noSnapshot)
  }

  test("isNextBlock linearity guard rejects gaps and replays") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(req(0, ("t1", "a", "a0"))))
    assert(store.isNextBlock(StateStore.GlobalCheckpointKey, 1))
    assert(!store.isNextBlock(StateStore.GlobalCheckpointKey, 3)) // gap
    assert(!store.isNextBlock(StateStore.GlobalCheckpointKey, 0)) // replay
    intercept[IllegalArgumentException] {
      store.writeBatch(Seq(req(5, ("t1", "x", "x5"))))
    }
  }

  test("non-contiguous batch is rejected") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    intercept[IllegalArgumentException] {
      store.writeBatch(Seq(req(0), req(2)))
    }
  }

  test("crash between data promote and checkpoint: replay skips the data, " +
    "never duplicates, and lands the checkpoint") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(req(0, ("t1", "a", "a0"))))
    // Simulate the crash window: the batch-1 DATA is committed
    // (deterministic commit id b…1-…1) but the process died before the
    // checkpoint write.
    val orphan = Seq((1, "t1", 1L, "b", "b1".getBytes("UTF-8"), false))
      .toDF(StateStore.tabletRowCols: _*)
    store.writeTabletRows(orphan, f"b${1L}%017d-${1L}%017d")
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 0L)
    // foreachBatch redelivers the batch: the linearity guard admits it
    // (checkpoint unchanged), the data write SKIPS (commit exists), the
    // checkpoint lands.
    store.writeBatch(Seq(req(1, ("t1", "b", "b1"))))
    assert(store.tabletRows.filter(col("height") === 1L).count() === 1L)
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 1L)
  }

  test("staged writes are invisible: a reader never observes an " +
    "unpromoted (partial) batch") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(req(0, ("t1", "a", "a0"))))
    // A batch that died mid-write leaves its files under _staging only.
    val partial = Seq((1, "t1", 99L, "zz", "partial".getBytes("UTF-8"), false))
      .toDF(StateStore.tabletRowCols: _*)
    partial.write.parquet(s"${store.root}/_staging/dead-attempt")
    assert(store.tabletRows.count() === 1L) // the orphaned staging is not readable
    // And nothing under the table path is a bare file: every batch is a
    // committed directory (promoted atomically).
    assert(store.tabletRows.filter(col("primary_key") === "zz").count() === 0L)
  }

  /** Names of the files in `store`'s checkpoint log, checksums excluded. */
  private def checkpointFileNames(store: StateStore): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"${store.root}/checkpoints")
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
  }

  test("checkpoint log compaction preserves latest-per-key and shrinks the log") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    (0L to 9L).foreach(h => store.writeBatch(Seq(req(h, ("t1", "k", s"v$h")))))
    store.writeCheckpoint(Checkpoint("shard-000", 7L, "s7", 7L))
    // Each write deletes its key's older files: one file per key remains.
    assert(checkpointFileNames(store) === Set("cp-checkpoint-9.json", "cp-shard-000-7.json"))
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 9L)
    assert(store.checkpoint("shard-000").get.height === 7L)
    // A fresh store instance (cold cache) reads the same answers from disk.
    val reopened = new StateStore(store.root)
    assert(reopened.checkpoint(StateStore.GlobalCheckpointKey).get ===
      Checkpoint(StateStore.GlobalCheckpointKey, 9L, "blk-9", 9L))
    assert(reopened.checkpoint("shard-000").get === Checkpoint("shard-000", 7L, "s7", 7L))
  }

  test("legacy parquet checkpoint log raises on read, never reads as empty") {
    implicit val s = spark
    import s.implicits._
    val root = tmpDir("store")
    // A pre-JSON-era store: its checkpoint was a 1-row parquet commit dir.
    Seq(("checkpoint", 41L, "blk-41", 41L))
      .toDF("key", "height", "block_id", "block_num")
      .write.parquet(s"$root/checkpoints/cp-checkpoint-41")
    val store = new StateStore(root)
    // Read as empty, the linearity guard would re-admit height 0 and
    // duplicate data; the reader refuses the unknown entry instead.
    val e = intercept[IllegalStateException] {
      store.checkpoint(StateStore.GlobalCheckpointKey)
    }
    assert(e.getMessage.contains("cp-checkpoint-41"))
    intercept[IllegalStateException] {
      store.isNextBlock(StateStore.GlobalCheckpointKey, 0L)
    }
    intercept[IllegalStateException] {
      store.checkpointFresh(StateStore.GlobalCheckpointKey)
    }
  }

  test("a crash leftover older checkpoint file is ignored, and the next " +
    "write removes it") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    (0L to 5L).foreach(h => store.writeBatch(Seq(req(h, ("t1", "k", s"v$h")))))
    // Leave what a writer that died between its rename and its delete
    // leaves: an older file beside the newer one. (A write deletes only
    // its key's LOWER heights, so writing height 3 now keeps height 5.)
    store.writeCheckpoint(Checkpoint(StateStore.GlobalCheckpointKey, 3L, "blk-3", 3L))
    assert(checkpointFileNames(store) === Set("cp-checkpoint-3.json", "cp-checkpoint-5.json"))
    val reopened = new StateStore(store.root)
    assert(reopened.checkpoint(StateStore.GlobalCheckpointKey).get.height === 5L)
    reopened.writeBatch(Seq(req(6, ("t1", "k", "v6"))))
    assert(checkpointFileNames(reopened) === Set("cp-checkpoint-6.json"))
    assert(new StateStore(store.root).checkpointFresh(StateStore.GlobalCheckpointKey)
      .get.height === 6L)
  }

  test("a reader polling checkpointFresh beside a writer never fails and " +
    "never sees the height go down") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    val reader = new StateStore(store.root)
    val key = StateStore.GlobalCheckpointKey
    val last = 199L
    store.writeCheckpoint(Checkpoint(key, 0L, "blk-0", 0L))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val poller = new Thread(() =>
      try while (!done.get()) seen.add(reader.checkpointFresh(key).fold(-1L)(_.height))
      catch { case t: Throwable => error.set(t) })
    poller.start()
    (1L to last).foreach(h => store.writeCheckpoint(Checkpoint(key, h, s"blk-$h", h)))
    done.set(true)
    poller.join(60000)
    assert(error.get() === null, s"the polling reader raised: ${error.get()}")
    import scala.jdk.CollectionConverters._
    val heights = seen.asScala.toSeq
    assert(heights.nonEmpty && !heights.contains(-1L))
    assert(heights.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true },
      "the polled height went down")
    assert(reader.checkpointFresh(key).get.height === last)
  }

  test("orphaned staging directories are swept on store construction") {
    implicit val s = spark
    import s.implicits._
    val root = tmpDir("store")
    val store = new StateStore(root)
    store.writeBatch(Seq(req(0, ("t1", "a", "a0"))))
    // A write that died mid-stage leaves its files under _staging only.
    Seq((1, "t1", 99L, "zz", "dead".getBytes("UTF-8"), false))
      .toDF(StateStore.tabletRowCols: _*)
      .write.parquet(s"$root/_staging/orphan-from-crash")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staging/orphan-from-crash")))
    // Reopening (the restart after the crash) sweeps the orphan; data and
    // checkpoint are untouched.
    val reopened = new StateStore(root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staging/orphan-from-crash")))
    assert(reopened.tabletRows.count() === 1L)
    assert(reopened.checkpoint(StateStore.GlobalCheckpointKey).get.height === 0L)
  }

  test("mutation-table compaction folds per-batch directories into a " +
    "range-partitioned layout; contents, reads, and further writes survive") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    (0L to 19L).foreach(h =>
      store.writeBatch(Seq(req(h, (s"t${h % 4}", s"pk${h % 3}", s"v$h")))))
    val beforeRows = store.tabletRows.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).sorted.toSeq
    // The live manifest holds one commit per batch.
    val mt = store.manifestTableFor(store.tabletRowsPath)
    def liveCommits = mt.manifestEntries(mt.currentGeneration().get).size
    assert(liveCommits === 20)
    val folded = store.compactTabletRows(numFiles = 2)
    assert(folded === 20L)
    // Batch commits folded into one replacement commit, identical
    // contents.
    assert(liveCommits === 1)
    val afterRows = store.tabletRows.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).sorted.toSeq
    assert(afterRows === beforeRows)
    // The store keeps working: next batch appends, checkpoint advances,
    // and a REPLAYED batch is still dropped by the linearity guard even
    // though its deterministic commit id is gone post-compaction.
    store.writeBatch(Seq(req(20, ("t0", "pk0", "v20"))))
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 20L)
    intercept[IllegalArgumentException] {
      store.writeBatch(Seq(req(20, ("t0", "pk0", "v20"))))
    }
    assert(store.tabletRows.count() === 21L)
    // Compacting an empty/missing table is a no-op.
    assert(store.compactSingletEntries() === 0L)
  }

  test("manifest commit protocol (object-store mode): a crash between data " +
    "write and pointer swap is invisible to readers; replay commits exactly " +
    "once; compaction and orphan sweep work") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"), StateStore.ManifestCommit)
    store.writeBatch(Seq(req(0, ("t1", "a", "a0")), req(1, ("t1", "b", "b1"))))
    assert(store.tabletRows.count() === 2L)
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 1L)
    // Inject the crash window: data files land, no manifest, no pointer.
    val mt = store.manifestTableFor(store.tabletRowsPath)
    mt.failBeforePublish = true
    intercept[IllegalStateException] {
      store.writeBatch(Seq(req(2, ("t1", "c", "c2"))))
    }
    // Readers resolve pointer → manifest → files: the crashed attempt is
    // unreferenced, so they see the last published generation whole —
    // never a partial batch — and the checkpoint (written after data) did
    // not advance, so the linearity guard re-admits the batch.
    assert(store.tabletRows.count() === 2L)
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 1L)
    // "Restart" replay: commits exactly once (the crashed attempt's
    // deterministic directory is rewritten, not duplicated).
    mt.failBeforePublish = false
    store.writeBatch(Seq(req(2, ("t1", "c", "c2"))))
    assert(store.tabletRows.count() === 3L)
    assert(store.readTabletAt("t1", 2L).count() === 3L)
    // An already-manifested commit id is a skip.
    import s.implicits._
    val dup = Seq((1, "t1", 2L, "c", "c2".getBytes("UTF-8"), false))
      .toDF(StateStore.tabletRowCols: _*)
    assert(!store.writeTabletRows(dup, f"b${2L}%017d-${2L}%017d"))
    // Compaction folds the 2 manifest entries into one replacement
    // generation and sweeps now-unreferenced directories; contents intact.
    val beforeRows = store.tabletRows.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).sorted.toSeq
    assert(store.compactTabletRows(numFiles = 2) === 2L)
    val afterRows = store.tabletRows.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).sorted.toSeq
    assert(afterRows === beforeRows)
    // The store keeps accepting batches afterwards.
    store.writeBatch(Seq(req(3, ("t1", "d", "d3"))))
    assert(store.tabletRows.count() === 4L)
  }

  test("manifest time travel: readAt(g) reproduces each committed generation; " +
    "retention-windowed sweep keeps retained generations readable (VACUUM " +
    "contract); the current read never breaks") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val mt = new graft.store.ManifestTable(tmpDir("tt"), schema)
    def df(rows: (Long, String)*) = rows.toDF("id", "v")
    def setAt(g: Long) = mt.readAt(g).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mt.read().count() === 0L)
    assert(mt.commit(df(1L -> "a"), "c1"))               // gen 1
    assert(mt.commit(df(2L -> "b"), "c2"))               // gen 2
    mt.replaceAll(df(9L -> "z"), "c3")                   // gen 3 (compaction)
    assert(mt.currentGeneration() === Some(3L))
    assert(setAt(1) === Set(1L -> "a"))
    assert(setAt(2) === Set(1L -> "a", 2L -> "b"))
    assert(setAt(3) === Set(9L -> "z"))
    // Manifests are cumulative, so retaining gen 2 retains every dir gen 2
    // references: a retain-2 sweep deletes nothing here.
    assert(mt.sweepOrphans(retainGenerations = 2) === Seq.empty)
    assert(setAt(2) === Set(1L -> "a", 2L -> "b"))
    // Retain-1 (the default) reclaims the pre-compaction directories:
    // time travel to swept generations FAILS (missing files), it never
    // silently returns partial data; the current generation is untouched.
    val swept = mt.sweepOrphans()
    assert(swept.toSet === Set("d-c1-g1", "d-c2-g2"))
    assert(setAt(3) === Set(9L -> "z"))
    assert(mt.read().count() === 1L)
    intercept[Exception] { setAt(2) }
    // A generation that never existed fails loudly instead of reading as
    // an empty table (gen 0, pre-first-commit, is the only legitimately
    // empty generation).
    intercept[IllegalArgumentException] { mt.readAt(99L) }
    assert(mt.readAt(0L).count() === 0L)
  }

  test("OPERATIONAL HEAD CHECK: clean on an honest store; a post-publish " +
    "sidecar clobber flips the damaged gauge, lastHeadProblem names the " +
    "table, and the PipelineMetrics snapshot carries all three gauges") {
    implicit val s = spark
    val root = tmpDir("head-check")
    val store = new StateStore(root, StateStore.ManifestCommit)
    val pipeline = new graft.streaming.IngestionPipeline(store)
    store.writeBatch(Seq(req(0, ("t1", "a", "a0")), req(1, ("t1", "b", "b1"))))
    // Clean store: the probe passes, the clean counter moves.
    assert(pipeline.headCheckNow() === Seq.empty)
    assert(pipeline.headCheckStats._1 === 1L)
    assert(pipeline.headCheckStats._2 === 0L)
    assert(pipeline.lastHeadProblem === None)
    // Simulate the damage only a non-conditional-create store admits: a
    // stale publisher's blind sidecar overwrite landing AFTER the
    // winner's publish (foreign owner, same generation).
    val sp = new org.apache.hadoop.fs.Path(
      f"$root/tablet_rows/_manifests/d-${1L}%09d.json")
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(sp)
    val orig =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    val clobbered = orig.replaceAll(
      """"owner":"[0-9a-f]+"""", """"owner":"deadbeefdeadbeefdeadbeefdeadbeef"""")
    assert(clobbered !== orig, "sidecar must have carried an owner to clobber")
    val out = fs.create(sp, true)
    try out.write(clobbered.getBytes("UTF-8")) finally out.close()
    // The next probe sees pointer owner != sidecar owner and flags it.
    val problems = pipeline.headCheckNow()
    assert(problems.nonEmpty, "the clobber must be detected")
    assert(pipeline.headCheckStats._2 === 1L)
    assert(pipeline.lastHeadProblem.exists(_.contains("tablet_rows")))
    // The gauges ride the same listener-bus snapshot as everything else.
    val m = pipeline.registerMetrics()
    try {
      m.sample()
      val snap = m.snapshot
      assert(snap("head_checks_clean") === 1L)
      assert(snap("head_checks_damaged") === 1L)
      assert(snap("head_check_last_millis") > 0L)
    } finally spark.streams.removeListener(m)
  }

  test("compaction's inline sweep is SAFE-BY-DEFAULT beside live writers: " +
    "the age guard defaults to the publish lease (young unreferenced dirs " +
    "survive), and the single-writer 0 override reclaims immediately") {
    implicit val s = spark
    // Default: lease PLUS retry budget, never 0 — a commit blocked behind
    // a reservation legitimately reuses its staged dir for up to the
    // lease (takeover point) plus its retry budget before publishing, so
    // the sweep threshold must clear both.
    assert(StateStore.compactSweepMinAgeMillis ===
      graft.store.ManifestTable.publishLeaseMillis +
        graft.store.ManifestTable.publishRetryMillis)
    val store = new StateStore(tmpDir("sweep-default"), StateStore.ManifestCommit)
    store.writeBatch(Seq(req(0, ("t1", "a", "a0"))))
    store.writeBatch(Seq(req(1, ("t1", "b", "b1"))))
    def dirs: Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"${store.root}/tablet_rows")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("d-")).toSet
    }
    val before = dirs
    assert(before.size === 2)
    // Under the default lease-aged guard, compaction must NOT reclaim the
    // seconds-old pre-compaction directories (they could as well be a
    // concurrent writer's in-flight commit — the sweep cannot tell).
    assert(store.compactTabletRows(numFiles = 1) === 2L)
    assert(dirs.intersect(before) === before,
      "young unreferenced dirs must survive the default inline sweep")
    assert(store.tabletRows.count() === 2L)
    // The single-writer opt-in (0) reclaims them on the next compaction.
    sys.props("graft.compact.sweepMinAgeMs") = "0"
    try {
      assert(store.compactTabletRows(numFiles = 1) === 1L)
      assert(dirs.intersect(before) === Set.empty,
        "the 0 override must reclaim the now-old unreferenced dirs")
      assert(store.tabletRows.count() === 2L)
    } finally sys.props.remove("graft.compact.sweepMinAgeMs")
  }

  test("collection predicate prunes partition DIRECTORIES " +
    "(PartitionFilters in the scan, SURVEY §1.4 layout)") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"))
    store.writeBatch(Seq(WriteRequest(0, BlockRef("b0", 0), Seq(
      TabletRowM(1, "t1", 0, "a", "x".getBytes("UTF-8"), false),
      TabletRowM(2, "u1", 0, "b", "y".getBytes("UTF-8"), false)), Nil)))
    val df = store.tabletRows.filter(col("collection") === 2)
    assert(df.collect().map(_.getString(1)).toSeq === Seq("u1"))
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("PartitionFilters"), explained)
    assert(explained.replaceAll("#\\d+", "").contains("(collection = 2)"), explained)
    // Both collections round-trip with the declared schema order.
    assert(store.tabletRows.columns.toSeq === StateStore.tabletRowCols)
    assert(store.tabletRows.count() === 2L)
  }

  test("reindexTablets rebuilds corrupted index entries from the mutation " +
    "rows; dryRun counts without writing; lowerBound scopes") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("store"))
    // Two tablets; t1 mutates a/b (b tombstoned at h3), t2 mutates c.
    store.writeBatch(Seq(
      WriteRequest(0, BlockRef("b0", 0), Seq(
        TabletRowM(1, "t1", 0, "a", "a0".getBytes, false),
        TabletRowM(1, "t1", 0, "b", "b0".getBytes, false),
        TabletRowM(1, "t2", 0, "c", "c0".getBytes, false)), Nil),
      WriteRequest(1, BlockRef("b1", 1), Seq(
        TabletRowM(1, "t1", 1, "a", "a1".getBytes, false)), Nil),
      WriteRequest(2, BlockRef("b2", 2), Seq(
        TabletRowM(1, "t2", 2, "c", "c2".getBytes, false)), Nil),
      WriteRequest(3, BlockRef("b3", 3), Seq(
        TabletRowM(1, "t1", 3, "b", Array[Byte](), true)), Nil)))
    // CORRUPTED index entries (wrong keys/heights) at (t1, 3) and (t2, 2).
    store.writeTabletSnapshot(
      Seq(("zz", 99L)).toDF("primary_key", "height"), "t1", 3L, 0L, 1)
    store.writeTabletSnapshot(
      Seq(("zz", 99L)).toDF("primary_key", "height"), "t2", 2L, 0L, 1)

    // dryRun: counts only, nothing rewritten.
    assert(store.reindexTablets(dryRun = true) === ((2L, 2L)))
    assert(store.latestTabletSnapshot("t1", 3L).get._2
      .collect().map(_.getString(0)).toSeq === Seq("zz"))

    // lowerBound scopes the rebuild to tablets >= it (reference lowerBound).
    // Out of scope, t1's snapshot directory is not rewritten at all: the
    // same files, not one modified.
    val sp = new org.apache.hadoop.fs.Path(store.snapshotsPath)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    def t1Files() = fs.listStatus(sp)
      .filter(_.getPath.getName.endsWith("%017d".format(3L)))
      .flatMap(d => fs.listStatus(d.getPath))
      .map(st => (st.getPath.toString, st.getModificationTime)).toSet
    val t1Before = t1Files()
    assert(t1Before.nonEmpty)
    Thread.sleep(1100) // a rewrite would show as a later mtime, even at 1 s granularity
    assert(store.reindexTablets(lowerBound = "t2") === ((1L, 1L)))
    assert(t1Files() === t1Before)
    assert(store.latestTabletSnapshot("t1", 3L).get._2
      .collect().map(_.getString(0)).toSeq === Seq("zz")) // untouched
    val t2Idx = store.latestTabletSnapshot("t2", 2L).get._2
      .orderBy("primary_key").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t2Idx.toSeq === Seq(("c", 2L))) // rebuilt: latest c at h2

    // Full reindex fixes t1 too: live key a at h1, tombstoned b dropped —
    // exactly Snapshots.buildTabletIndex's output (indexing_test.go shape).
    assert(store.reindexTablets() === ((2L, 2L)))
    val t1Idx = store.latestTabletSnapshot("t1", 3L).get._2
      .orderBy("primary_key").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t1Idx.toSeq === Seq(("a", 1L)))
    // squelch_count recomputed: 4 t1 row-versions scanned at h3.
    val squelch = store.tabletSnapshots
      .filter(col("tablet_id") === "t1" && col("at_height") === 3L)
      .select("squelch_count").distinct().collect().map(_.getLong(0)).toSeq
    assert(squelch === Seq(4L))

    // Single-tablet variant: corrupt t2 again, reindexTablet repairs just it.
    store.writeTabletSnapshot(
      Seq(("zz", 99L)).toDF("primary_key", "height"), "t2", 4L, 0L, 1)
    assert(store.reindexTablet("t2") === Some(4L))
    val t2Latest = store.latestTabletSnapshot("t2").get._2
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t2Latest.toSeq === Seq(("c", 2L)))
    // No index at all -> None ("re-index not required").
    assert(store.reindexTablet("t-none") === None)
  }

  test("backfill shards by entity and injectShard replays with checkpoints") {
    implicit val s = spark
    import s.implicits._
    val n = 4
    val muts = (0L until 40L).map { h =>
      (1, s"t${h % 8}", h, s"pk${h % 8}", Array[Byte](h.toByte), false)
    }.toDF(StateStore.tabletRowCols: _*)
    val refs = (0L until 40L).map(h => (h, s"blk-$h", h))
      .toDF("height", "block_id", "block_num")
    val shardPath = tmpDir("shards")
    Backfill.run(muts, shardPath, n, blockRefs = Some(refs))
    // Every row of one tablet lands in exactly one shard.
    val spread = spark.read.parquet(shardPath)
      .groupBy("tablet_id").agg(org.apache.spark.sql.functions
        .countDistinct(col("shard")).as("n_shards"))
      .filter(col("n_shards") > 1).count()
    assert(spread === 0L)

    val store = new StateStore(tmpDir("store"))
    (0 until n).foreach(i => Backfill.injectShard(spark, shardPath, i, store))
    assert(store.tabletRows.count() === 40L)
    val progress = store.verifyAllShardsWritten(n)
    assert(progress.length === n)
    assert(progress.forall(_._3 != "missing"))
    // A shard that never ran reports missing.
    val progress5 = store.verifyAllShardsWritten(n + 1)
    assert(progress5.count(_._3 == "missing") === 1)

    // Finalization refuses while a shard is missing…
    intercept[IllegalArgumentException] { store.finalizeSharding(n + 1) }
    // …and with all shards complete: writes the GLOBAL final checkpoint at
    // the common head, deletes the shard checkpoints (write.go:183–198).
    val finalCp = store.finalizeSharding(n)
    assert(finalCp.key === StateStore.GlobalCheckpointKey && finalCp.height === 39L)
    // The final checkpoint carries the REAL block ref at the stop height
    // (WriteShardingFinalCheckpoint, write.go:183–198) — fork resolution
    // at the sharding→live handoff depends on it.
    assert(finalCp.blockId === "blk-39" && finalCp.blockNum === 39L)
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 39L)
    assert(store.shardCheckpoints().isEmpty)
    // A cold-cache reopen agrees the shard checkpoints are gone from disk.
    val reopened = new StateStore(store.root)
    assert(reopened.checkpoint("shard-000").isEmpty)
    // The clean-DB guard now refuses further shard injection into this
    // store (CheckCleanDBForSharding).
    intercept[IllegalArgumentException] {
      Backfill.injectShard(spark, shardPath, 0, reopened)
    }
  }

  test("manifest protocol partitions data by collection: reads are identical " +
    "to the written rows, a collection predicate gets PartitionFilters, and " +
    "the crash window stays invisible with multi-collection batches") {
    implicit val s = spark
    val store = new StateStore(tmpDir("store"), StateStore.ManifestCommit)
    def multiReq(h: Long): WriteRequest = WriteRequest(h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, "a", s"c1-$h".getBytes("UTF-8"), false),
        TabletRowM(2, "u1", h, "b", s"c2-$h".getBytes("UTF-8"), false)), Nil)
    store.writeBatch(Seq(multiReq(0), multiReq(1)))
    // Round-trip: declared column order, partition values parsed back from
    // the collection=N directory names, contents exact.
    assert(store.tabletRows.columns.toSeq === StateStore.tabletRowCols)
    val rows = store.tabletRows.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3),
        new String(r.getAs[Array[Byte]](4), "UTF-8"))).sorted.toSeq
    assert(rows === Seq(
      (1, "t1", 0L, "a", "c1-0"), (1, "t1", 1L, "a", "c1-1"),
      (2, "u1", 0L, "b", "c2-0"), (2, "u1", 1L, "b", "c2-1")))
    // The collection predicate prunes DIRECTORIES (PartitionFilters).
    val pruned = store.tabletRows.filter(col("collection") === 2)
    assert(pruned.collect().map(_.getString(1)).toSeq === Seq("u1", "u1"))
    val explained = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("PartitionFilters"), explained)
    assert(explained.replaceAll("#\\d+", "").contains("(collection = 2)"), explained)
    // Crash injection on a partitioned write: data files land under
    // collection=N dirs but no manifest references them — readers see the
    // prior generation whole; replay commits exactly once.
    val mt = store.manifestTableFor(store.tabletRowsPath)
    mt.failBeforePublish = true
    intercept[IllegalStateException] { store.writeBatch(Seq(multiReq(2))) }
    assert(store.tabletRows.count() === 4L)
    assert(store.checkpoint(StateStore.GlobalCheckpointKey).get.height === 1L)
    mt.failBeforePublish = false
    store.writeBatch(Seq(multiReq(2)))
    assert(store.tabletRows.count() === 6L)
    assert(store.tabletRows.filter(col("collection") === 2).count() === 3L)
    // Compaction (2 commits -> 1 replacement) preserves the partitioned
    // layout and the pruning.
    assert(store.compactTabletRows(numFiles = 1) === 2L)
    val afterCompact = store.tabletRows.filter(col("collection") === 2)
    assert(afterCompact.count() === 3L)
    assert(afterCompact.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("PartitionFilters"))
  }
}
