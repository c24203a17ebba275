package graft

import graft.model._
import graft.store.StateStore
import graft.streaming.{BlockArchiveSource, StreamedBlock}

/** End-to-end exercise of the operational CLI verbs against real stores —
  * the reference app-mode surface (inject / reproc / repair) as one flow. */
class ToolsSpec extends SparkTestBase {

  test("inject → checkpoint → reindex → prune → compact → shard round-trip") {
    implicit val s = spark
    val root = tmpDir("tools-store")
    val archive = tmpDir("tools-archive")
    def block(n: Long) = StreamedBlock(
      s"a$n", s"a${n - 1}", n, "irreversible",
      Seq(TabletRowM(1, "t1", n, s"pk${n % 3}", s"v$n".getBytes, false)), Nil)
    BlockArchiveSource.writeArchiveFile((0L to 9L).map(block), archive)

    assert(Tools.run(Seq("inject", root, archive, tmpDir("tools-ckpt")))
      === "checkpoint height=9 block=a9")
    assert(Tools.run(Seq("checkpoint", root)) === "checkpoint height=9 block=a9")

    // Repair verbs over a store with snapshots.
    val store = new StateStore(root)
    Seq(3L, 5L, 7L, 9L).foreach { h =>
      store.writeTabletSnapshot(
        graft.snapshot.Snapshots.buildTabletIndex(store.tabletRows, "t1", h),
        "t1", h, h + 1, 1)
    }
    assert(Tools.run(Seq("reindex", root, "dryRun")) === "would reindex 4 entries across 1 tablets")
    assert(Tools.run(Seq("reindex-tablet", root, "t1")) === "reindexed t1 at height 9")
    assert(Tools.run(Seq("reindex-tablet", root, "t-none")) === "re-index not required")
    assert(Tools.run(Seq("prune", root, "t1", "99")) === "kept snapshot heights 3,5,7,9")
    assert(Tools.run(Seq("compact", root)).startsWith("compacted 1 tablet-row"))
    assert(new StateStore(root).tabletRows.count() === 10L)

    // Reproc: shard the mutations into a fresh store, reconcile, finalize.
    // The store's table directory is manifest-governed, so the mutations
    // are exported through the store first.
    val mutations = s"${tmpDir("tools-mutations")}/rows.parquet"
    new StateStore(root).tabletRows.write.parquet(mutations)
    val shardOut = tmpDir("tools-shards")
    val root2 = tmpDir("tools-store2")
    Tools.run(Seq("shard", mutations, shardOut, "2"))
    Tools.run(Seq("inject-shard", shardOut, "0", root2))
    val status = Tools.run(Seq("shard-status", root2, "2"))
    assert(status.contains("shard-000 height=9 complete") && status.contains("shard-001 height=null missing"))
    Tools.run(Seq("inject-shard", shardOut, "1", root2))
    assert(Tools.run(Seq("finalize-sharding", root2, "2"))
      === "finalized at height 9 (block )")
    assert(new StateStore(root2).tabletRows.count() === 10L)

    assert(Tools.run(Seq("read-tablet", root2, "t1", "4"))
      === "pk0 h=3 v3\npk1 h=4 v4\npk2 h=2 v2")

    intercept[IllegalArgumentException] { Tools.run(Seq("bogus")) }
  }

  test("shard reads a live store root through its manifest: published " +
    "rows only, across several commit directories and a crashed attempt") {
    implicit val s = spark
    val root = tmpDir("tools-shard-root")
    val store = new StateStore(root)
    def req(h: Long, pk: String) = WriteRequest(h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, pk, s"v$h".getBytes("UTF-8"), false)), Nil)
    (0L to 3L).foreach(h => store.writeBatch(Seq(req(h, s"pk${h % 2}"))))
    // An unpublished attempt directory: its rows must not be sharded.
    val table = store.manifestTableFor(store.tabletRowsPath)
    table.failBeforePublish = true
    intercept[IllegalStateException](store.writeBatch(Seq(req(4L, "crashed"))))
    table.failBeforePublish = false

    val shardOut = tmpDir("tools-shard-out")
    val root2 = tmpDir("tools-shard-root2")
    assert(Tools.run(Seq("shard", root, shardOut, "2")) ===
      s"sharded $root into 2 shards at $shardOut")
    Seq("0", "1").foreach(i => Tools.run(Seq("inject-shard", shardOut, i, root2)))
    Tools.run(Seq("finalize-sharding", root2, "2"))
    def rows(st: StateStore) = st.tabletRows.collect()
      .map(r => (r.getAs[String]("primary_key"), r.getAs[Long]("height"))).toSet
    assert(rows(new StateStore(root2)) === rows(new StateStore(root)))
    assert(rows(new StateStore(root2)).size === 4)
  }

  test("manifest time-travel verbs: table-generations lists the commit " +
    "history; read-tablet-at-gen reads the state as of an older generation") {
    implicit val s = spark
    val root = tmpDir("tools-tt")
    val store = new StateStore(root, StateStore.ManifestCommit)
    def req(h: Long, pk: String, v: String) = WriteRequest(
      h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, pk, v.getBytes("UTF-8"), false)), Nil)
    store.writeBatch(Seq(req(0, "a", "v0")))   // generation 1
    store.writeBatch(Seq(req(1, "a", "v1")))   // generation 2: overwrites pk a
    val gens = Tools.run(Seq("table-generations", root))
    assert(gens.startsWith("g1: 1 commits [") && gens.linesIterator.size === 2, gens)
    // As of generation 1 the tablet knows only v0; the current read (and
    // generation 2) sees the overwrite.
    assert(Tools.run(Seq("read-tablet-at-gen", root, "1", "t1", "5")) === "a h=0 v0")
    assert(Tools.run(Seq("read-tablet-at-gen", root, "2", "t1", "5")) === "a h=1 v1")
    assert(Tools.run(Seq("read-tablet", root, "t1", "5")) === "a h=1 v1")
  }

  test("curate verb materializes the composed pipeline output and reports " +
    "the funnel") {
    implicit val s = spark
    val out = tmpDir("tools-curated")
    val report = Tools.run(Seq("curate", "/root/testdata/sf0.001", out))
    assert(report.contains(s"curated corpus written to $out/curated"))
    assert(report.contains("a_raw:") && report.contains("e_decontaminated:"))
    val curated = spark.read.parquet(s"$out/curated")
    val direct = graft.queries.CurationPipeline
      .curate(spark, "/root/testdata/sf0.001")
    assert(curated.count() === direct.count() && curated.count() > 0)
    assert(curated.columns.sorted ===
      Array("doc_id", "n_repeats", "n_tokens", "source", "weight_ppm"))
  }

  test("subscription verbs: diff prints the per-key changefeed; " +
    "materialize catches the serving table up and resumes incrementally") {
    implicit val s = spark
    val root = tmpDir("tools-sub")
    val target = tmpDir("tools-sub-target")
    val ck = tmpDir("tools-sub-ck")
    val store = new StateStore(root, StateStore.ManifestCommit)
    def req(h: Long, pk: String, v: String) = WriteRequest(
      h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, pk, v.getBytes("UTF-8"), v.isEmpty)), Nil)
    store.writeBatch(Seq(req(0, "a", "a0")))
    store.writeBatch(Seq(req(1, "b", "b1")))
    store.writeBatch(Seq(req(2, "a", "a2"), req(3, "b", "")))

    val diff = Tools.run(Seq("diff", root, "t1", "1", "3"))
    assert(diff.linesIterator.toSet === Set(
      "a updated h=2 a0 -> a2", "b deleted h=3 b1 -> -"), diff)

    assert(Tools.run(Seq("materialize", root, target, ck))
      .contains("1 live rows")) // a live, b tombstoned
    // New commits after the catch-up: rerunning with the SAME checkpoint
    // resumes from the recorded generation and folds only the delta.
    store.writeBatch(Seq(req(4, "b", "b4")))
    assert(Tools.run(Seq("materialize", root, target, ck))
      .contains("2 live rows"))
  }

  test("inject-dbin replays a synthesized reference-format .dbin.zst shard " +
    "segment end to end: rows + singlets land, shard checkpoint at the " +
    "last record's block ref, crash replay skips, startAfter honored") {
    implicit val s = spark
    def req(h: Long): WriteRequest = WriteRequest(
      h, BlockRef(s"seg$h", h),
      Seq(TabletRowM(1, "t1", h, s"pk${h % 2}", s"v$h".getBytes("UTF-8"), false)),
      Seq(SingletEntryM(7, "hd", h, s"h$h".getBytes("UTF-8"), false)))
    // Synthesize the segment EXACTLY as the reference ships it: per-record
    // WriteRequest proto wire inside the dbin 'fwr' v1 container, whole
    // file zstd-wrapped.
    val segDir = new java.io.File(tmpDir("tools-dbin"))
    val seg = new java.io.File(segDir, "0000000005-0000000009.dbin.zst")
    val fo = new java.io.FileOutputStream(seg)
    try DbinCodec.writeShardSegment(
      fo, (5L to 9L).map(h => PayloadCodec.writeRequestPayloadOf(req(h))))
    finally fo.close()

    val root = tmpDir("tools-dbin-store")
    val out = Tools.run(Seq(
      "inject-dbin", seg.getAbsolutePath, "0", root, "1=2,7=2"))
    assert(out === s"injected 5 write requests from ${seg.getAbsolutePath} as shard 0")
    val store = new StateStore(root)
    assert(store.tabletRows.select("height").collect().map(_.getLong(0)).sorted
      === (5L to 9L).toArray)
    assert(store.singletEntries.count() === 5L)
    // Shard checkpoint at the last record's REAL block ref.
    val cp = store.checkpoint(f"${StateStore.ShardCheckpointPrefix}000").get
    assert(cp.height === 9L && cp.blockId === "seg9" && cp.blockNum === 9L)
    // Deterministic commit id: a crash replay of the same (shard,
    // startAfter) overwrites the same directory instead of duplicating.
    Tools.run(Seq("inject-dbin", seg.getAbsolutePath, "0", root, "1=2,7=2"))
    assert(store.tabletRows.count() === 5L)
    // startAfter skips the prefix (resume semantics).
    val root2 = tmpDir("tools-dbin-store2")
    Tools.run(Seq("inject-dbin", seg.getAbsolutePath, "1", root2, "1=2,7=2", "7"))
    assert(new StateStore(root2).tabletRows
      .select("height").collect().map(_.getLong(0)).sorted === Array(8L, 9L))
  }

  test("backfill-sidecars: a legacy (pre-sidecar) store gets synthesized " +
    "delta sidecars in one manifest fold — its changefeed then takes the " +
    "linear fast path (probe counter flat) and emits byte-identically to " +
    "what the quadratic fold emitted, rewrite semantics included") {
    implicit val s = spark
    val root = tmpDir("tools-backfill")
    // Interval 1 = the layout pre-sidecar stores produced (a full manifest
    // every generation); deleting the d-*.json files afterwards makes it a
    // true legacy store.
    val store = new StateStore(root, StateStore.ManifestCommit,
      manifestCheckpointInterval = 1)
    def req(h: Long, pk: String, v: String) = WriteRequest(
      h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, pk, v.getBytes("UTF-8"), false)),
      Seq(SingletEntryM(7, "hd", h, s"s$v".getBytes("UTF-8"), false)))
    store.writeBatch(Seq(req(1, "a", "a1")))
    store.writeBatch(Seq(req(2, "b", "b2")))
    // A rewrite generation mid-history, WITHOUT the orphan sweep the
    // store-level compaction runs after it: a from-0 replay must still be
    // able to scan the pre-rewrite files (sweeping rewritten history
    // breaks from-0 replay on ANY CDC design — same as a vacuumed Delta
    // table's CDF; that contract is pinned elsewhere, not under test here).
    val tr = store.manifestTableFor(store.tabletRowsPath)
    tr.replaceAll(tr.read(), "compact")
    store.writeBatch(Seq(req(3, "c", "c3")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("tablet_rows", "singlet_entries").foreach { t =>
      val mdir = new org.apache.hadoop.fs.Path(s"$root/$t/_manifests")
      fs.listStatus(mdir).map(_.getPath)
        .filter(_.getName.startsWith("d-")).foreach(fs.delete(_, false))
    }
    val mt = store.manifestTableFor(store.tabletRowsPath)
    val gen = mt.currentGeneration().get
    assert((1L to gen).forall(g => mt.deltaEntry(g).isEmpty), "legacy setup")

    // The legacy store's changefeed output (via the fold) — the yardstick
    // the backfilled fast path must reproduce byte-identically.
    def drain(ck: String, sink: String): Set[(Long, String, Long, String)] = {
      val q = store.changefeedStream()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000L)); q.stop()
      spark.table(sink).collect().map(r => (
        r.getAs[Long]("height"), r.getAs[String]("primary_key"),
        r.getAs[Long]("_generation"), r.getAs[String]("_commit_id"))).toSet
    }
    val before = graft.streaming.ManifestChangefeed.foldFallbacks.get()
    val viaFold = drain(tmpDir("tools-backfill-ck1"), "bf_fold")
    assert(graft.streaming.ManifestChangefeed.foldFallbacks.get() > before,
      "the legacy drain must have exercised the fold fallback")

    // The verb: one fold total, both mutation tables, idempotent.
    val out = Tools.run(Seq("backfill-sidecars", root))
    assert(out.contains("tablet_rows: synthesized 4 sidecar(s), 0 already present"), out)
    assert(out.contains("singlet_entries: synthesized 3 sidecar(s)"), out)
    assert((1L to gen).forall(g => mt.deltaEntry(g).isDefined))
    // The synthesized compaction-generation sidecar carries the rewrite
    // flag the fold derived file-level (skip semantics preserved).
    assert(mt.deltaEntry(3L).exists(_._3), "compaction sidecar flags rewrite")
    assert(mt.deltaEntry(1L).exists(!_._3) && mt.deltaEntry(4L).exists(!_._3))
    val again = Tools.run(Seq("backfill-sidecars", root))
    assert(again.contains("tablet_rows: synthesized 0 sidecar(s), 4 already present"), again)

    // Fresh subscription over the backfilled store: linear path (no new
    // fold fallbacks), emission identical to the fold's.
    val mid = graft.streaming.ManifestChangefeed.foldFallbacks.get()
    val viaFast = drain(tmpDir("tools-backfill-ck2"), "bf_fast")
    assert(graft.streaming.ManifestChangefeed.foldFallbacks.get() === mid,
      "backfilled table must take the sidecar fast path")
    assert(viaFast === viaFold)
  }

  test("head-check verb: clean on a healthy store root and on a bare " +
    "serving table; a post-publish sidecar owner clobber is reported") {
    implicit val s = spark

    // Store root (manifest protocol): both tables cross-check clean.
    val root = tmpDir("tools-hc-store")
    val store = new StateStore(root, StateStore.ManifestCommit)
    store.writeBatch(Seq(WriteRequest(0, BlockRef("b0", 0),
      Seq(TabletRowM(1, "t1", 0, "a", "v0".getBytes("UTF-8"), false)), Nil)))
    assert(Tools.run(Seq("head-check", root)) === "head check clean")

    // Bare manifest table (the serving-target shape): `_gen` sits
    // directly under the path, no store layout around it.
    val target = tmpDir("tools-hc-target")
    val t = graft.streaming.StateMaterializer.targetTable(target)
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        1, "t1", 0L, "a", "v0".getBytes("UTF-8"), false)), 1),
      Schemas.tabletRows)
    assert(t.commit(rows, "c1"))
    assert(Tools.run(Seq("head-check", target)) === "head check clean")

    // Clobber the head sidecar's owner AFTER the publish — the damage a
    // non-conditional-create store can admit. The verb must name it.
    val sp = new org.apache.hadoop.fs.Path(
      f"$target/_manifests/d-${1L}%09d.json")
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
    val report = Tools.run(Seq("head-check", target))
    assert(report.startsWith("HEAD CHECK FAILED:"), report)
    assert(report.contains("overwritten after publish"), report)
  }

  test("head-check --history: the forensic attribution audit is clean on " +
    "a healthy table, reports pre-sweep loser residue as debris, and a " +
    "generation whose recorded owner lost its manifest object while a " +
    "foreign attempt's survives as a conflict") {
    implicit val s = spark
    val target = tmpDir("tools-audit")
    val t = graft.streaming.StateMaterializer.targetTable(target)
    def row(h: Long, pk: String, v: String) = org.apache.spark.sql.Row(
      1, "t1", h, pk, v.getBytes("UTF-8"), false)
    def commit(h: Long, pk: String, v: String, cid: String): Unit =
      assert(t.commit(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row(h, pk, v)), 1),
        Schemas.tabletRows), cid))
    commit(1L, "a", "v1", "c1")
    commit(2L, "b", "v2", "c2")
    commit(3L, "c", "v3", "c3")
    val clean = Tools.run(Seq("head-check", target, "--history"))
    assert(clean === "head check clean\nhistory audit clean", clean)

    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def plant(rel: String, body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$target/$rel")
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // DEBRIS: a fenced loser's attempt manifest beside generation 2's
    // intact authoritative object.
    plant(f"_manifests/m-${2L}%09d.deadbeef.json",
      """{"commit_id":"loser","files":[]}""" + "\n")
    val withDebris = Tools.run(Seq("head-check", target, "--history"))
    assert(withDebris.contains("HISTORY AUDIT (1 finding(s))"), withDebris)
    assert(withDebris.contains("debris: generation 2"), withDebris)

    // CONFLICT: generation 1's recorded owner loses its own object while
    // a foreign attempt's survives — the shape a post-head TOCTOU
    // clobber leaves behind (the lying sidecar names the clobberer; the
    // real winner's manifest persists only as this foreign object).
    val mdir = new org.apache.hadoop.fs.Path(s"$target/_manifests")
    fs.listStatus(mdir).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(f"m-${1L}%09d.") && n.endsWith(".json")
      }.foreach(fs.delete(_, false))
    plant(f"_manifests/m-${1L}%09d.cafebabe.json",
      """{"commit_id":"real-winner","files":[]}""" + "\n")
    val withConflict = Tools.run(Seq("head-check", target, "--history"))
    assert(withConflict.contains("conflict: generation 1"), withConflict)
    assert(withConflict.contains("debris: generation 2"), withConflict)
    // Plain head-check (no flag) is unchanged by historical damage.
    assert(Tools.run(Seq("head-check", target)) === "head check clean")
  }
}
