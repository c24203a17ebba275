package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, encode}
import graft.read.TemporalReads
import graft.snapshot.Snapshots

class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def mutations: DataFrame = {
    // 3 keys, interleaved writes and a delete, heights 1..12.
    val rs = Seq(
      ("t1", 1L, "a", "a1", false), ("t1", 2L, "b", "b2", false),
      ("t1", 3L, "a", "a3", false), ("t1", 4L, "c", "c4", false),
      ("t1", 5L, "b", "", true), ("t1", 6L, "a", "a6", false),
      ("t1", 7L, "b", "b7", false), ("t1", 9L, "c", "c9", false),
      ("t1", 11L, "a", "", true), ("t1", 12L, "a", "a12", false))
    rs.toDF("tablet_id", "height", "primary_key", "v", "is_deletion")
      .withColumn("value", encode(col("v"), "utf-8")).drop("v")
  }

  test("buildTabletIndex: pk → last mutation height, tombstoned keys dropped") {
    val idx = Snapshots.buildTabletIndex(mutations, "t1", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(idx === Seq(("a", 3L), ("c", 4L))) // b tombstoned at 5
    assert(Snapshots.squelchCount(mutations, "t1", 5) === 5L)
  }

  test("incremental build ≡ from-scratch build; squelch carries as prev + tail") {
    for (prevH <- Seq(0L, 3L, 4L, 5L, 8L, 11L); atH <- Seq(5L, 8L, 11L, 12L) if prevH < atH) {
      val prev = Snapshots.buildTabletIndex(mutations, "t1", prevH)
      val tail = mutations.filter(
        col("tablet_id") === "t1" && col("height") > prevH && col("height") <= atH)
      val inc = Snapshots.buildTabletIndexIncremental(tail, prev)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val scratch = Snapshots.buildTabletIndex(mutations, "t1", atH)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(inc === scratch, s"prev=$prevH at=$atH")
      assert(
        Snapshots.squelchCount(mutations, "t1", prevH) + tail.count()
          === Snapshots.squelchCount(mutations, "t1", atH),
        s"squelch carry prev=$prevH at=$atH")
    }
  }

  test("snapshot ∪ tail read ≡ direct full-scan read (the J1 invariant), " +
    "with and without the hydration lower bound") {
    for (snapH <- Seq(0L, 4L, 5L, 8L, 12L); atH <- Seq(5L, 8L, 12L) if snapH <= atH) {
      val snap = Snapshots.buildTabletIndex(mutations, "t1", snapH)
      val viaSnapshot = Snapshots
        .readTabletAtWithSnapshot(mutations, snap, snapH, "t1", atH)
        .collect().map(_.toSeq).toSeq
      val direct = TemporalReads.readTabletAt(mutations, "t1", atH)
        .collect().map(_.toSeq).toSeq
      assert(viaSnapshot.map(_.take(2)) === direct.map(_.take(2)),
        s"snapshot=$snapH at=$atH")
      // The store path's hydration-scan bound is exact: identical result.
      // (Empty snapshot → bound Long.MaxValue prunes the whole hydration
      // side, which the semi-join would have emptied anyway.)
      def decoded(rows: Seq[Seq[Any]]): Seq[(Any, Any, String)] = rows.map(r =>
        (r(0), r(1), new String(r(2).asInstanceOf[Array[Byte]], "UTF-8")))
      val bounded = Snapshots
        .readTabletAtWithSnapshot(mutations, snap, snapH, "t1", atH, Nil,
          Snapshots.hydrationBoundOf(snap))
        .collect().map(_.toSeq).toSeq
      assert(decoded(bounded) === decoded(viaSnapshot),
        s"bounded snapshot=$snapH at=$atH")
    }
  }

  test("store point read via the snapshot route ≡ full-history point read: " +
    "tombstone/reinsert, absent keys, speculative overlays, manifest file floor") {
    implicit val s = spark
    val store = new graft.store.StateStore(
      tmpDir("store-pt"), graft.store.StateStore.ManifestCommit)
    val m = mutations.withColumn("collection", org.apache.spark.sql.functions.lit(1))
      .select("collection", "tablet_id", "height", "primary_key", "value", "is_deletion")
    // One commit per height — the micro-batch accretion shape, so the
    // snapshot floor can actually drop FILES, not just rows.
    (1L to 12L).foreach { h =>
      val slice = m.filter(col("height") === h)
      if (slice.count() > 0) store.writeTabletRows(slice, f"c$h%03d")
    }
    Seq(4L, 8L).foreach { h =>
      store.writeTabletSnapshot(Snapshots.buildTabletIndex(mutations, "t1", h),
        "t1", h, Snapshots.squelchCount(mutations, "t1", h), collection = 1)
    }
    // Speculative overlays carry the store schema (the pipeline's
    // reversible-segment facades do), collection included.
    val spec = Seq((1, "t1", 12L, "a", "", true), (1, "t1", 13L, "a", "aS", false))
      .toDF("collection", "tablet_id", "height", "primary_key", "v", "is_deletion")
      .withColumn("value", encode(col("v"), "utf-8")).drop("v")
      .select("collection", "tablet_id", "height", "primary_key", "value", "is_deletion")
    def decoded(d: DataFrame): Seq[(String, Long, String)] =
      d.collect().toSeq.map(r => (r.getAs[String]("primary_key"),
        r.getAs[Long]("height"),
        new String(r.getAs[Array[Byte]]("value"), "UTF-8")))
    for (k <- Seq("a", "b", "c", "zz"); atH <- Seq(1L, 4L, 5L, 8L, 11L, 12L, 13L);
         sp <- Seq(Nil, Seq(spec))) {
      val got = decoded(store.readTabletRowAt("t1", k, atH, sp))
      val want = decoded(graft.read.TemporalReads.readTabletRowAt(
        store.tabletRows, "t1", k, atH, sp))
      assert(got === want, s"key=$k at=$atH spec=${sp.nonEmpty}")
    }
    // The floor is real: reading key "c" at height 12 over the height-8
    // snapshot hydrates at c's snapshot entry (height 9 is in the tail;
    // entry height 4)… the kept files are bounded by [4, 12], dropping
    // the height-1..3 commits from the plan entirely.
    val manifest = store.manifestTableFor(store.tabletRowsPath)
    val (kept, total) = manifest.pruneCounts(Seq(
      graft.store.ManifestTable.StatsEq("tablet_id", "t1"),
      graft.store.ManifestTable.StatsGte("height", 4L),
      graft.store.ManifestTable.StatsLte("height", 12L)))
    // Commits exist at heights {1..7, 9, 11, 12}; the [4, 12] band keeps 7.
    assert(total === 10 && kept === 7, s"expected 7 of 10 files, got $kept of $total")
  }

  test("store incremental diff ≡ generic one-pass diff for every window, " +
    "with and without a snapshot backing the pre-side resolve") {
    implicit val s = spark
    val store = new graft.store.StateStore(
      tmpDir("store-diff"), graft.store.StateStore.ManifestCommit)
    val m = mutations.withColumn("collection", org.apache.spark.sql.functions.lit(1))
      .select("collection", "tablet_id", "height", "primary_key", "value", "is_deletion")
    (1L to 12L).foreach { h =>
      val slice = m.filter(col("height") === h)
      if (slice.count() > 0) store.writeTabletRows(slice, f"c$h%03d")
    }
    def norm(d: DataFrame): Seq[(String, String, Long, String, String)] =
      d.collect().toSeq.map { r =>
        def str(i: Int): String =
          Option(r.getAs[Array[Byte]](i)).map(new String(_, "UTF-8")).orNull
        (r.getString(0), r.getString(1), r.getLong(2), str(3), str(4))
      }
    def check(): Unit =
      for (from <- Seq(0L, 2L, 4L, 5L, 7L, 11L, 12L); to <- Seq(5L, 8L, 11L, 12L)
           if from <= to) {
        val inc = norm(store.readTabletDiff("t1", from, to))
        val gen = norm(graft.read.TemporalReads.readTabletDiff(
          store.tabletRows, "t1", from, to))
        assert(inc === gen, s"window ($from, $to]")
      }
    check() // no snapshot: pre-side resolves through the full-history join
    store.writeTabletSnapshot(Snapshots.buildTabletIndex(mutations, "t1", 6L),
      "t1", 6L, Snapshots.squelchCount(mutations, "t1", 6L), collection = 1)
    check() // snapshot at 6: pre-side takes the TabletIndex-pruned route
  }

  test("readTabletDiff's internal persist is call-scoped: no cached plan " +
    "survives the call, the result is re-readable, blocks freeable") {
    implicit val s = spark
    import org.apache.spark.sql.graftbridge.GraftBridge
    val store = new graft.store.StateStore(
      tmpDir("store-diff-cache"), graft.store.StateStore.ManifestCommit)
    val m = mutations.withColumn("collection", org.apache.spark.sql.functions.lit(1))
      .select("collection", "tablet_id", "height", "primary_key", "value", "is_deletion")
    store.writeTabletRows(m, "c1")

    spark.catalog.clearCache()
    assert(GraftBridge.cacheManagerIsEmpty(spark))
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val diff = store.readTabletDiff("t1", 2L, 11L)
    // The window-argmax persist must be gone BEFORE the read returns — a
    // long-lived or SQL-only session (graft_tablet_diff TVF) must not
    // accumulate one cached plan per diff call.
    assert(GraftBridge.cacheManagerIsEmpty(spark),
      "readTabletDiff leaked a cache-manager entry")
    // The materialized result stays re-readable (two reads, same rows).
    assert(diff.count() === diff.count() && diff.count() > 0)
    // And the caller can free the checkpoint blocks deterministically:
    // nothing this call pinned remains pinned afterwards.
    GraftBridge.freeLocalCheckpoint(diff)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty,
      s"diff call left pinned RDD(s) $leaked after freeLocalCheckpoint")
  }

  test("snapshot-pruned as-of join ≡ full-history as-of join for every " +
    "snapshot height: probes above/below the snapshot, tombstones, misses, " +
    "future-only keys, and other-tablet probes (fallback route)") {
    // A second tablet so fallback routing is exercised alongside pruning.
    val other = Seq(("t2", 2L, "x", "x2", false), ("t2", 9L, "x", "x9", false))
      .toDF("tablet_id", "height", "primary_key", "v", "is_deletion")
      .withColumn("value", encode(col("v"), "utf-8")).drop("v")
    val all = mutations.unionByName(other)
    val probes = Seq(
      (1L, "t1", "a", 2L),   // below any mid snapshot → fallback, resolves a1
      (2L, "t1", "a", 10L),  // resolves a6
      (3L, "t1", "a", 12L),  // tombstoned at 11, rewritten at 12 → a12
      (4L, "t1", "a", 11L),  // tombstone wins → null
      (5L, "t1", "b", 5L),   // tombstoned at 5 → null
      (6L, "t1", "b", 8L),   // revived at 7 → b7
      (7L, "t1", "zz", 12L), // never written → null
      (8L, "t1", "c", 1L),   // first write at 4 → null at 1
      (9L, "t2", "x", 10L),  // other tablet → fallback, resolves x9
      (10L, "t2", "x", 1L))  // other tablet, before first write → null
      .toDF("probe_id", "tablet_id", "primary_key", "at_height")
      // Null-field probes: the eligibility predicate evaluates to NULL for
      // them, and a naive filter/!filter split would drop them from BOTH
      // routes; they must resolve through the fallback to asOfJoin's null
      // row, like any unknown key.
      .unionByName(Seq(
        (11L, Option.empty[String], Option("a"), Option(5L)),
        (12L, Option("t1"), Option("a"), Option.empty[Long]))
        .toDF("probe_id", "tablet_id", "primary_key", "at_height"))
    def render(df: DataFrame): Seq[(Long, Option[(Long, String)])] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None
         else Some((r.getLong(4),
           new String(r.getAs[Array[Byte]](5), "UTF-8"))))).toSeq
    val direct = render(TemporalReads.asOfJoin(all, probes))
    assert(direct.map(_._2) === Seq(Some((1L, "a1")), Some((6L, "a6")),
      Some((12L, "a12")), None, None, Some((7L, "b7")), None, None,
      Some((9L, "x9")), None, None, None))
    for (snapH <- Seq(0L, 4L, 5L, 8L, 12L)) {
      val snap = Snapshots.buildTabletIndex(all, "t1", snapH)
      val pruned = render(Snapshots.asOfJoinWithSnapshot(
        all, probes, snap, snapH, "t1"))
      assert(pruned === direct, s"snapshot=$snapH")
      val bounded = render(Snapshots.asOfJoinWithSnapshot(
        all, probes, snap, snapH, "t1", Snapshots.hydrationBoundOf(snap)))
      assert(bounded === direct, s"bounded snapshot=$snapH")
    }
  }

  test("snapshot-pruned as-of join plans the bounded scans: the eligible " +
    "route reads hydration ∪ tail (LeftSemi + height > snapshot bound), " +
    "never the unbounded history") {
    // Parquet-backed fixture: over a LocalRelation Catalyst folds the
    // height filters into the relation itself and the bounds vanish from
    // the plan string; over a file scan they surface as PushedFilters —
    // the same evidence the store layout relies on for row-group pruning.
    val dir = tmpDir("asof_plan")
    mutations.write.mode("overwrite").parquet(s"$dir/muts.parquet")
    val m = spark.read.parquet(s"$dir/muts.parquet")
    val snap = Snapshots.buildTabletIndex(m, "t1", 8)
    val probes = Seq((1L, "t1", "a", 12L))
      .toDF("probe_id", "tablet_id", "primary_key", "at_height")
    val plan = Snapshots.asOfJoinWithSnapshot(
      m, probes, snap, 8, "t1", Some(3L))
      .queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"),
      "hydration semi-join missing from the pruned as-of plan")
    assert(plan.contains("GreaterThan(height,8)"),
      "tail scan must push the strict height > snapshotHeight bound:\n" + plan)
    assert(plan.contains("GreaterThanOrEqual(height,3)"),
      "hydration scan must push the lower bound predicate:\n" + plan)
  }

  test("snapshot read honors a speculative overlay above the tail") {
    val snap = Snapshots.buildTabletIndex(mutations, "t1", 5)
    val spec = Seq(("t1", 13L, "c", "c13-spec", false))
      .toDF("tablet_id", "height", "primary_key", "v", "is_deletion")
      .withColumn("value", encode(col("v"), "utf-8")).drop("v")
    val out = Snapshots
      .readTabletAtWithSnapshot(mutations, snap, 5, "t1", 13, Seq(spec))
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](2), "UTF-8")))
    assert(out.toSeq === Seq(("a", "a12"), ("b", "b7"), ("c", "c13-spec")))
  }

  test("index trigger heuristic matches the reference thresholds exactly") {
    import Snapshots.shouldTriggerIndexing
    assert(!shouldTriggerIndexing(None, 24999))
    assert(shouldTriggerIndexing(None, 25000))
    assert(shouldTriggerIndexing(Some(50000), 25000))        // small tablet
    assert(!shouldTriggerIndexing(Some(60000), 30000))       // medium: need > rows/2
    assert(shouldTriggerIndexing(Some(60000), 30001))
    assert(!shouldTriggerIndexing(Some(300000), 99999))      // big: need >= 100K
    assert(shouldTriggerIndexing(Some(300000), 100000))
  }

  test("retention prune matches the reference: delete every k-th intermediate " +
    "desc, keep the rest, skip small tablets (indexing.go:328–396)") {
    // 10 snapshots, frequency 3: middle walked desc = [9..2]; positions
    // 3 and 6 (heights 7 and 4) are DELETED, everything else kept.
    val hs = (1L to 10L).toSeq
    assert(Snapshots.pruneRetention(hs, 3) === Seq(1L, 2L, 3L, 5L, 6L, 8L, 9L, 10L))
    // ≤ frequency + 2 snapshots: untouched (indexing.go:352–356).
    assert(Snapshots.pruneRetention((1L to 5L).toSeq, 3) === (1L to 5L).toSeq)
    assert(Snapshots.pruneRetention(Seq(5L), 2) === Seq(5L))
    // The reference's own shape: a 100..1300 ladder at frequency 2 loses
    // every 2nd intermediate counting down from 1200.
    val ladder = (1L to 13L).map(_ * 100)
    assert(Snapshots.pruneRetention(ladder, 2) ===
      Seq(100L, 200L, 400L, 600L, 800L, 1000L, 1200L, 1300L))
    // Frequency must be > 1 (indexing.go:329–331).
    intercept[IllegalArgumentException] { Snapshots.pruneRetention(hs, 1) }
  }

  test("physical snapshot prune rewrites the log and spares other tablets") {
    implicit val s = spark
    val store = new graft.store.StateStore(tmpDir("store"))
    val m = mutations
    (2L to 10L by 2).foreach { h =>
      store.writeTabletSnapshot(Snapshots.buildTabletIndex(m, "t1", h), "t1", h,
        Snapshots.squelchCount(m, "t1", h))
    }
    store.writeTabletSnapshot(Snapshots.buildTabletIndex(m, "t1", 5), "other", 5, 5)
    val conf = spark.sessionState.newHadoopConf()
    val sp = new org.apache.hadoop.fs.Path(store.snapshotsPath)
    val fs = sp.getFileSystem(conf)
    val dirsBefore = fs.listStatus(sp).count(_.isDirectory)
    // t1 has 5 snapshots [2,4,6,8,10] > freq+2: middle desc [8,6,4], the
    // 2nd (height 6) is deleted; first/last always kept.
    val kept = store.pruneTabletSnapshots("t1", pruneFrequency = 2)
    assert(kept === Seq(2L, 4L, 8L, 10L))
    // FAST PATH: exactly one per-snapshot directory deleted — no table
    // rewrite (O(dropped), the KV-delete equivalent).
    assert(fs.listStatus(sp).count(_.isDirectory) === dirsBefore - 1)
    val after = store.tabletSnapshots
      .select("tablet_id", "at_height").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after === Set(("t1", 2L), ("t1", 4L), ("t1", 8L), ("t1", 10L), ("other", 5L)))
    // Reads still work after the rewrite.
    assert(store.latestTabletSnapshot("t1").get._1 === 10L)
  }

  test("reindexTablets keeps one directory per snapshot, and prune then " +
    "deletes exactly the dropped snapshots' directories") {
    implicit val s = spark
    val store = new graft.store.StateStore(tmpDir("store"))
    val m = mutations
    store.writeTabletRows(m.select(
      org.apache.spark.sql.functions.lit(1).as("collection"),
      col("tablet_id"), col("height"), col("primary_key"),
      col("value"), col("is_deletion")))
    (2L to 10L by 2).foreach { h =>
      store.writeTabletSnapshot(Snapshots.buildTabletIndex(m, "t1", h), "t1", h,
        Snapshots.squelchCount(m, "t1", h), collection = 1)
    }
    val sp = new org.apache.hadoop.fs.Path(store.snapshotsPath)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    def entries(): Set[String] = fs.listStatus(sp).map { st =>
      assert(st.isDirectory, s"${st.getPath} is not a snapshot directory")
      st.getPath.getName
    }.toSet
    val before = entries()
    assert(before.size === 5)
    // The reindex rebuilds every snapshot in its own directory: the same
    // directory names, nothing flat beside them, the same contents.
    assert(store.reindexTablets() === ((1L, 5L)))
    assert(entries() === before)
    (2L to 10L by 2).foreach { h =>
      assert(store.latestTabletSnapshot("t1", h).get._2.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ===
        Snapshots.buildTabletIndex(m, "t1", h).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet, h)
    }
    val kept = store.pruneTabletSnapshots("t1", pruneFrequency = 2)
    assert(kept === Seq(2L, 4L, 8L, 10L))
    assert(entries() === before.filterNot(_.endsWith("%017d".format(6L))))
    val after = store.tabletSnapshots.select("at_height").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(after === Set(2L, 4L, 8L, 10L))
    assert(store.latestTabletSnapshot("t1").get._1 === 10L)
  }

  test("ignore-range read resolves below the corrupted window and result " +
    "is unchanged (fetchIndex, indexing.go:303–326)") {
    implicit val s = spark
    val store = new graft.store.StateStore(tmpDir("store"))
    val m = mutations
    Seq(4L, 8L, 12L).foreach { h =>
      store.writeTabletSnapshot(Snapshots.buildTabletIndex(m, "t1", h), "t1", h,
        Snapshots.squelchCount(m, "t1", h))
    }
    // Window (5, 9]: the height-8 snapshot is corrupted — lookup at 12
    // normally lands on 12 (outside), lookup at 9 must re-fetch below 5.
    val ignore = Some((5L, 9L))
    assert(store.latestTabletSnapshot("t1", 12L, ignore).get._1 === 12L)
    assert(store.latestTabletSnapshot("t1", 9L, ignore).get._1 === 4L)
    assert(store.latestTabletSnapshot("t1", 8L, ignore).get._1 === 4L)
    assert(store.latestTabletSnapshot("t1", 8L, None).get._1 === 8L)
    // The read RESULT is identical with and without the ignore range —
    // only the snapshot choice (scan bound) changes.
    // Store rows so the snapshot-aware read has its base table.
    store.writeTabletRows(m.select(
      org.apache.spark.sql.functions.lit(1).as("collection"),
      col("tablet_id"), col("height"), col("primary_key"),
      col("value"), col("is_deletion")))
    val withIgnore = store.readTabletAt("t1", 9, Nil, ignore)
      .collect().map(_.toSeq.take(2)).toSeq
    val without = store.readTabletAt("t1", 9)
      .collect().map(_.toSeq.take(2)).toSeq
    assert(withIgnore === without)
  }

  test("IndexCache accumulates and resets per tablet") {
    val c = new Snapshots.IndexCache
    c.increment("t1", 20000); c.increment("t1", 6000); c.increment("t2", 100)
    assert(c.tabletsToIndex() === Seq("t1"))
    c.recordIndexed("t1", 26000)
    assert(c.mutationCount("t1") === 0L)
    assert(c.tabletsToIndex().isEmpty)
  }
}
