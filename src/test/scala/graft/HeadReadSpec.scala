package graft

import graft.model._
import graft.read.TemporalReads
import graft.snapshot.Snapshots
import graft.store.{ManifestTable, StateStore}
import graft.store.ManifestTable.{StatsEq, StatsLte}
import graft.streaming.{IngestionPipeline, SpeculativeFetch, StreamedBlock}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The fork-aware head read planned over a fixed number of scans:
  *
  *   - a manifest read is ONE file-source scan whatever the commit count,
  *     planned from the manifest without listing or stat-ing data files;
  *   - the reversible overlay is ONE pre-ranked frame, equal in effect to
  *     the per-block frames it replaces;
  *   - the snapshot a read routes through, and its hydration bound, come
  *     from the snapshot table's directory names and footers, with no
  *     statement;
  *
  * plus the two store/pipeline faults found on the way (a restarted
  * pipeline's unseeded fork tree, a checksum-torn generation pointer).
  */
class HeadReadSpec extends SparkTestBase {

  spark.sparkContext.hadoopConfiguration.set(
    s"fs.${ProbeFileSystem.Scheme}.impl", classOf[ProbeFileSystem].getName)

  private def probeDir(prefix: String): String =
    s"${ProbeFileSystem.Scheme}:" + tmpDir(prefix)

  private def row(coll: Int, t: String, h: Long, pk: String, v: String,
      del: Boolean = false) =
    TabletRowM(coll, t, h, pk, v.getBytes("UTF-8"), del)

  private def tabletRows(df: DataFrame): Seq[(String, Long, String)] =
    df.collect().map(r => (r.getAs[String]("primary_key"), r.getAs[Long]("height"),
      new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSeq

  private def scans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size

  /** Seven commits across collections 1 and 2 on a probe-fs store. */
  private def sevenCommits(prefix: String)(implicit s: org.apache.spark.sql.SparkSession) = {
    val store = new StateStore(probeDir(prefix), StateStore.ManifestCommit)
    (0L until 7L).foreach { h =>
      store.writeBatch(Seq(WriteRequest(h, BlockRef(s"b$h", h), Seq(
        row(1, "t1", h, s"k$h", s"t1-$h"), row(2, "u1", h, "k", s"u1-$h")), Nil)))
    }
    store
  }

  test("a manifest read plans ONE file-source scan after many commits, " +
    "with no list or status call on the manifested data files") {
    implicit val s = spark
    val store = sevenCommits("plan-shape")
    val (plans, calls) = ProbeFileSystem.recorded {
      val full = store.tabletRows
      val pruned = store.tabletRowsPruned(Seq(StatsEq("tablet_id", "t1"), StatsLte("height", 4L)))
      (scans(full), scans(pruned))
    }
    assert(plans === (1, 1))
    // Metadata (pointer, manifests) may be read; data files and commit
    // directories must not be listed or stat-ed.
    val dataCalls = calls.filter(c => c.contains("/d-") && !c.contains("/_manifests/"))
    assert(dataCalls.isEmpty, s"planning touched data paths: $dataCalls")
    // One scan, both collections, exact contents.
    assert(store.tabletRows.count() === 14L)
    assert(store.tabletRows.filter(col("collection") === 2).count() === 7L)
    assert(tabletRows(store.readTabletAt("t1", 4L)).map(_._1) ===
      Seq("k0", "k1", "k2", "k3", "k4"))
  }

  test("scans over different files of one commit directory stay distinct " +
    "plans: a cached scan never serves another file set") {
    implicit val s = spark
    import s.implicits._
    val t = new ManifestTable(tmpDir("same-dir"), Schemas.singletEntries, Some("collection"))
    t.commit((0 until 40).map(i => (1, s"s$i", i.toLong, Array[Byte](1), false))
      .toDF(StateStore.singletEntryCols: _*).repartition(2), "c0")
    val files = t.manifestEntriesFull(1L).flatMap(_.files)
    assert(files.size === 2 && files.map(_.split("/").init.mkString("/")).distinct.size === 1,
      s"fixture: two files in one directory, got $files")
    val one = t.scanOf(files.take(1)).persist()
    try {
      val n1 = one.count()
      assert(t.scanOf(files.drop(1)).count() === 40L - n1)
      assert(t.scanOf(files).count() === 40L)
    } finally one.unpersist()
  }

  test("a manifest entry without recorded bytes (pre-bytes manifest) still " +
    "reads exactly") {
    implicit val s = spark
    val root = tmpDir("pre-bytes")
    val store = new StateStore(root, StateStore.ManifestCommit)
    (0L until 5L).foreach { h =>
      store.writeBatch(Seq(WriteRequest(h, BlockRef(s"b$h", h), Seq(
        row(1, "t1", h, s"k$h", s"v$h"), row(2, "u1", h, "k", s"u$h")), Nil)))
    }
    val expected = store.tabletRows.collect().map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8"); case o => o }).toSet
    // Strip `bytes` from every manifest of the table, as a writer that
    // predates the field left them (checksum sidecars go too: the edit
    // changes the bytes they cover).
    val mdir = new java.io.File(s"${store.tabletRowsPath}/_manifests")
    val stripped = mdir.listFiles().filter(f => f.getName.matches("""[md]-.*\.json""")).map { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      java.nio.file.Files.write(f.toPath,
        text.replaceAll(""","bytes":\[[^\]]*\]""", "").getBytes("UTF-8"))
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      text.contains("\"bytes\"")
    }
    assert(stripped.exists(identity), "fixture: manifests carried bytes")
    val reopened = new StateStore(root, StateStore.ManifestCommit)
    val mt = reopened.manifestTableFor(reopened.tabletRowsPath)
    assert(mt.manifestEntriesFull(mt.currentGeneration().get).forall(_.bytes.isEmpty))
    val got = reopened.tabletRows
    assert(scans(got) === 1)
    assert(got.collect().map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8"); case o => o }).toSet === expected)
    assert(reopened.tabletRows.filter(col("collection") === 1).count() === 5L)
  }

  test("a checksum-torn generation-pointer read retries instead of failing") {
    implicit val s = spark
    val schema = Schemas.singletEntries
    val t = new ManifestTable(probeDir("torn-crc"), schema, Some("collection"))
    import s.implicits._
    t.commit(Seq((1, "s1", 0L, "v".getBytes, false))
      .toDF(StateStore.singletEntryCols: _*), "c0")
    ProbeFileSystem.armChecksumFault("/_gen")
    assert(t.currentGeneration() === Some(1L))
    assert(!ProbeFileSystem.checksumFaultPending, "the fault must have fired")
    ProbeFileSystem.armChecksumFault("/_gen")
    assert(t.read().count() === 1L)
  }

  test("a restarted pipeline seeds its fork tree from the store checkpoint: " +
    "new blocks after the restart join the overlay") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("restart"))
    def block(n: Long, step: String) = StreamedBlock(s"a$n", s"a${n - 1}", n, step,
      Seq(row(1, "t", n, "k", s"v$n")), Nil)
    new IngestionPipeline(store).commitBatch(Seq(block(0, "irreversible")).toDS(), 0)
    val reopened = new IngestionPipeline(store)
    reopened.commitBatch(Seq(block(1, "new"), block(2, "new")).toDS(), 1)
    val SpeculativeFetch.Writes(ws, atFinal) = reopened.fetchSpeculativeWrites(None): @unchecked
    assert(ws.map(_.height) === Seq(1L, 2L) && atFinal === 0L)
    assert(tabletRows(store.readTabletAt("t", 2, reopened.speculativeTabletRowsFor(None))) ===
      Seq(("k", 2L, "v2")))
  }

  test("the one-frame overlay equals the per-block overlay: a key in two " +
    "reversible blocks, an overlay tombstone over a durable row, an overlay " +
    "row at a durable row's height — tablet reads and singlet history") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("overlay"), StateStore.ManifestCommit)
    val pipeline = new IngestionPipeline(store)
    def entry(h: Long, v: String, del: Boolean = false) =
      SingletEntryM(1, "s1", h, v.getBytes("UTF-8"), del)
    pipeline.commitBatch(Seq(
      StreamedBlock("a0", "", 0, "irreversible",
        Seq(row(1, "t1", 0, "a", "a0"), row(1, "t1", 0, "b", "b0"),
          row(1, "t1", 0, "c", "c0")), Seq(entry(0, "e0"))),
      StreamedBlock("a1", "a0", 1, "irreversible",
        Seq(row(1, "t1", 1, "d", "d1")), Seq(entry(1, "e1"))),
      // Reversible: `a` in both blocks; `b` tombstoned; a2 carries a row
      // AND an entry at height 1 — the height of durable rows.
      StreamedBlock("a2", "a1", 2, "new",
        Seq(row(1, "t1", 2, "a", "a2"), row(1, "t1", 2, "b", "", del = true),
          row(1, "t1", 1, "d", "d1-spec")), Seq(entry(1, "e1-spec"), entry(2, "e2"))),
      StreamedBlock("a3", "a2", 3, "new",
        Seq(row(1, "t1", 3, "a", "a3")), Seq(entry(3, "e3", del = true)))).toDS(), 0)
    store.writeTabletSnapshot(
      Snapshots.buildTabletIndex(store.tabletRows, "t1", 1L), "t1", 1L, 4L, 1)

    val one = pipeline.speculativeTabletRowsFor(None)
    assert(one.size === 1 && one.head.columns.contains(TemporalReads.SourceRankCol))
    val SpeculativeFetch.Writes(ws, _) = pipeline.fetchSpeculativeWrites(None): @unchecked
    val perBlock = ws.map(_.tabletRows.toDF(StateStore.tabletRowCols: _*))
    assert(perBlock.size === 2)
    val expected = Seq(("a", 3L, "a3"), ("c", 0L, "c0"), ("d", 1L, "d1-spec"))
    // Snapshot route (the store read), generic route, and a point read.
    assert(tabletRows(store.readTabletAt("t1", 3L, one)) === expected)
    assert(tabletRows(store.readTabletAt("t1", 3L, perBlock)) === expected)
    assert(tabletRows(TemporalReads.readTabletAt(store.tabletRows, "t1", 3L, one)) === expected)
    assert(tabletRows(TemporalReads.readTabletAt(store.tabletRows, "t1", 3L, perBlock)) === expected)
    for (pk <- Seq("a", "b", "d"))
      assert(tabletRows(store.readTabletRowAt("t1", pk, 3L, one)) ===
        tabletRows(store.readTabletRowAt("t1", pk, 3L, perBlock)), pk)
    // Below the second reversible block the first one's write wins.
    assert(tabletRows(store.readTabletAt("t1", 2L, one)) ===
      tabletRows(store.readTabletAt("t1", 2L, perBlock)))

    val oneS = pipeline.speculativeSingletEntriesFor(None)
    val perBlockS = ws.map(_.singletEntries.toDF(StateStore.singletEntryCols: _*))
    def history(d: DataFrame) = d.collect().map(r => (r.getLong(1),
      new String(r.getAs[Array[Byte]](2), "UTF-8"), r.getBoolean(3))).toSeq
    val hist = history(store.readSingletEntries("s1", oneS))
    assert(hist === history(store.readSingletEntries("s1", perBlockS)))
    // Speculative first at equal height (read.go:356–408).
    assert(hist === Seq((3L, "e3", true), (2L, "e2", false), (1L, "e1-spec", false),
      (1L, "e1", false), (0L, "e0", false)))
    assert(store.readSingletEntryAt("s1", 3L, oneS).count() === 0L)
    assert(store.readSingletEntryAt("s1", 2L, oneS).collect().map(_.getLong(1)).toSeq ===
      store.readSingletEntryAt("s1", 2L, perBlockS).collect().map(_.getLong(1)).toSeq)
  }

  /** Distinct SQL statements `body` ran on this thread. */
  private def statements[T](body: => T): (T, Int) = {
    val group = s"head-read-spec-${java.util.UUID.randomUUID()}"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(ids.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, "statement count")
    try {
      val out = body
      org.apache.spark.graftspec.BusDrain.drain(sc)
      (out, ids.size)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  test("the catalog snapshot lookup equals the two-aggregate lookup (ignore " +
    "range, no snapshot, empty directory, hash collision, two collections, " +
    "reindexed snapshot) and runs no statement") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("lookup"), StateStore.ManifestCommit)
    val muts = (0L to 12L).flatMap { h =>
      Seq(row(1, "t1", h, s"k${h % 4}", s"v$h", del = h == 9L)) ++
        (if (h == 11L) Seq(row(1, "t1", h, "late", "late11")) else Nil)
    }
    store.writeBatch(muts.groupBy(_.height).toSeq.sortBy(_._1).map { case (h, rs) =>
      WriteRequest(h, BlockRef(s"b$h", h), rs, Nil) })
    val rows = store.tabletRows
    // No snapshot at all: no lookup result, reads take the generic route.
    assert(store.tabletSnapshotLookup("t1", 12L).isEmpty)
    val generic = (h: Long) => tabletRows(TemporalReads.readTabletAt(rows, "t1", h))
    assert(tabletRows(store.readTabletAt("t1", 12L)) === generic(12L))
    def snapshot(h: Long, coll: Int = 1, keys: String => Boolean = _ => true): String =
      store.writeTabletSnapshot(
        Snapshots.buildTabletIndex(rows, "t1", h).filter(col("primary_key").isin(
          Seq("k0", "k1", "k2", "k3", "late").filter(keys): _*)),
        "t1", h, Snapshots.squelchCount(rows, "t1", h), coll)
    Seq(4L, 8L, 10L).foreach(snapshot(_))
    // An empty directory (an index whose keys are all tombstoned) at 11
    // is no snapshot. A directory named for t1 but holding another
    // tablet's rows (a hash collision) at 12 is skipped too.
    snapshot(11L, keys = _ => false)
    val fs = new org.apache.hadoop.fs.Path(store.snapshotsPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val other = new org.apache.hadoop.fs.Path(store.writeTabletSnapshot(
      Seq(("k0", 3L)).toDF("primary_key", "height"), "t2", 12L, 1L, 3))
    assert(fs.rename(other, new org.apache.hadoop.fs.Path(other.getParent,
      other.getName.replace(md5Hex("t2"), md5Hex("t1")))))
    // The two-aggregate answer, spelled out.
    def reference(maxH: Long, ignore: Option[(Long, Long)]): Option[(Long, Long, Long)] = {
      val inIgnore = (h: Long) => ignore.exists { case (a, b) => a < b && h > a && h <= b }
      val effMax = ignore match {
        case Some((a, b)) if a < b && maxH > a && maxH <= b => a
        case _ => maxH
      }
      def maxAt(m: Long) = Option(store.tabletSnapshots.filter(col("tablet_id") === "t1" &&
        col("at_height") <= m).agg(max("at_height")).head().get(0)).map(_.asInstanceOf[Long])
      maxAt(effMax).flatMap(h => if (inIgnore(h)) maxAt(ignore.get._1) else Some(h))
        .map { h =>
          val snap = store.tabletSnapshots
            .filter(col("tablet_id") === "t1" && col("at_height") === h)
          (h, Snapshots.hydrationBoundOf(snap).get,
            snap.agg(max("squelch_count")).head().getLong(0))
        }
    }
    def checkAll(): Unit =
      for ((maxH, ignore) <- Seq((12L, None), (9L, None), (3L, None), (9L, Some((5L, 9L))),
          (10L, Some((5L, 10L))), (12L, Some((5L, 9L))), (12L, Some((7L, 11L)))))
        assert(store.tabletSnapshotLookup("t1", maxH, ignore)
          .map(l => (l.atHeight, l.hydrationBound, l.squelchCount)) ===
          reference(maxH, ignore), (maxH, ignore))
    checkAll()
    assert(store.tabletSnapshotLookup("t1", 12L).map(_.atHeight) === Some(10L))
    // Reads through the lookup equal the generic read, ignore range or not.
    assert(tabletRows(store.readTabletAt("t1", 9L, Nil, Some((5L, 9L)))) === generic(9L))
    assert(tabletRows(store.readTabletAt("t1", 12L)) === generic(12L))
    // Point reads: present, tombstoned at the snapshot (k1 deleted at 9),
    // and never in any snapshot (`late` first written at 11).
    for (pk <- Seq("k0", "k1", "k2", "late", "never"))
      assert(tabletRows(store.readTabletRowAt("t1", pk, 12L)) ===
        tabletRows(TemporalReads.readTabletRowAt(rows, "t1", pk, 12L)), pk)
    val probes = Seq((1L, "t1", "k1", 12L), (2L, "t1", "late", 12L), (3L, "t1", "k2", 3L))
      .toDF("probe_id", "tablet_id", "primary_key", "at_height")
    assert(store.asOfJoin("t1", probes).collect().toSeq ===
      TemporalReads.asOfJoin(rows, probes).collect().toSeq)
    // No statement: for the lookup alone, and for building a whole
    // snapshot-routed read (nothing runs before the read executes).
    assert(statements(store.tabletSnapshotLookup("t1", 12L))._2 === 0)
    assert(statements(store.readTabletAt("t1", 12L))._2 === 0)
    assert(statements(store.readTabletRowAt("t1", "k2", 12L))._2 === 0)
    // Squelch rides along for the incremental index build.
    assert(store.latestTabletSnapshotMeta("t1").map(m => (m._1, m._2)) ===
      Some((10L, Snapshots.squelchCount(rows, "t1", 10L))))
    // Two collections' directories at one height are ONE snapshot: the
    // index at 12 split across collections 1 and 2 reads as the whole.
    snapshot(12L, 1, _ < "k2")
    snapshot(12L, 2, _ >= "k2")
    checkAll()
    val l12 = store.tabletSnapshotLookup("t1", 12L).get
    assert(l12.atHeight === 12L && l12.collections.sorted === Seq(1, 2))
    assert(l12.rows.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Snapshots.buildTabletIndex(rows, "t1", 12L).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(tabletRows(store.readTabletAt("t1", 12L)) === generic(12L))
    for (pk <- Seq("k0", "k2", "late"))
      assert(tabletRows(store.readTabletRowAt("t1", pk, 12L)) ===
        tabletRows(TemporalReads.readTabletRowAt(rows, "t1", pk, 12L)), pk)
    // A corrupted snapshot at 10 (wrong key, squelch 0) reads back as
    // written; after reindexTablet its directory answers with the
    // rebuilt squelch and hydration bound.
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${store.snapshotsPath}/s-1-${md5Hex("t1")}-${"%017d".format(10L)}"), true)
    store.writeTabletSnapshot(Seq(("zz", 0L)).toDF("primary_key", "height"), "t1", 10L, 0L, 1)
    val corrupt = store.tabletSnapshotLookup("t1", 10L).get
    assert((corrupt.atHeight, corrupt.hydrationBound, corrupt.squelchCount) === ((10L, 0L, 0L)))
    assert(store.reindexTablet("t1", 10L) === Some(10L))
    val repaired = store.tabletSnapshotLookup("t1", 10L).get
    assert((repaired.hydrationBound, repaired.squelchCount) ===
      ((Snapshots.hydrationBoundOf(Snapshots.buildTabletIndex(rows, "t1", 10L)).get,
        Snapshots.squelchCount(rows, "t1", 10L))))
    checkAll()
  }

  test("a snapshot-backed diff runs one statement: no probe aggregate and " +
    "no lookup statement before its materialization") {
    implicit val s = spark
    val store = new StateStore(tmpDir("diff-statements"), StateStore.ManifestCommit)
    val muts = (0L to 12L).map(h => row(1, "t1", h, s"k${h % 4}", s"v$h", del = h == 9L))
    store.writeBatch(muts.map(r => WriteRequest(r.height, BlockRef(s"b${r.height}", r.height),
      Seq(r), Nil)))
    val rows = store.tabletRows
    store.writeTabletSnapshot(Snapshots.buildTabletIndex(rows, "t1", 8L), "t1", 8L,
      Snapshots.squelchCount(rows, "t1", 8L), 1)
    def diff(d: DataFrame) = d.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (d, n) = statements(store.readTabletDiff("t1", 8L, 12L))
    assert(diff(d) === diff(TemporalReads.readTabletDiff(rows, "t1", 8L, 12L)))
    // The materialization is the diff's one statement: the probe bounds
    // are known from the window (fromHeight, this tablet) and the
    // snapshot comes from the catalog.
    assert(n === 1)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
