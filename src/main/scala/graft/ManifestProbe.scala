package graft

import graft.store.{ManifestTable, StateStore}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe for MANIFEST-LEVEL data skipping (not part of the driver
  * contract): builds a [[StateStore]] with `commits`
  * micro-batch commits (the accretion shape a 1 s trigger produces — one
  * committed directory per batch, disjoint height bands), then times the
  * flagship point reads through the store's manifest-pruned route vs the
  * same reads over the unpruned full-table scan.
  *
  * What the two routes pay before a single row is read:
  *   - unpruned: the scan is a union of one FileSourceScan per live commit
  *     directory (the partition-parsing basePath constraint), so planning
  *     lists and footer-reads EVERY live file — the cost that grows
  *     per-commit until compaction;
  *   - pruned: the file list comes from manifest metadata (one small JSON
  *     read), and only surviving directories enter the union.
  *
  * On tmpfs the I/O is page-cached, so alongside min-of-N wall time the
  * probe prints the file counts the manifest arithmetic kept — the number
  * that becomes object-store round trips at 100 TB.
  *
  * Usage: runMain graft.ManifestProbe [commits] [tablets]
  */
object ManifestProbe {
  def main(args: Array[String]): Unit = {
    val commits = if (args.nonEmpty) args(0).toInt else 256
    val tablets = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val s: SparkSession = spark
    import s.implicits._

    val root = s"/dev/shm/graft-mprobe/c$commits-t$tablets"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val store = new StateStore(root)

    val rowsPerCommit = 200
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/tablet_rows/_gen"))) {
      // One commit per height band: commit c covers heights
      // [c*rows, (c+1)*rows) spread over `tablets` tablets — the layout a
      // steady micro-batch ingest leaves between compactions.
      (0 until commits).foreach { c =>
        val base = c.toLong * rowsPerCommit
        val df = spark.range(rowsPerCommit)
          .select(
            lit(1).as("collection"),
            concat(lit("tab"), (col("id") % tablets).cast("string")).as("tablet_id"),
            (col("id") + base).as("height"),
            format_string("k%04d", col("id") % 500).as("primary_key"),
            encode(concat(lit("v"), (col("id") + base).cast("string")), "UTF-8")
              .as("value"),
            lit(false).as("is_deletion"))
        store.writeTabletRows(df.coalesce(1), f"probe-$c%05d")
      }
    }
    val manifest = store.manifestTableFor(store.tabletRowsPath)
    val maxH = commits.toLong * rowsPerCommit - 1
    val midH = maxH / 2
    // TabletIndex snapshot at 95% of max height (ingestion maintains these
    // incrementally; built untimed here). With it, the store's flagship
    // read needs only [hydration bound, maxH] — and because every key
    // churns continuously, that band is shallow, so the manifest height
    // floor drops almost every pre-snapshot FILE. This is the production
    // head-read shape: snapshot pruning and manifest pruning COMPOSE.
    val snapH = maxH * 95L / 100L
    if (store.latestTabletSnapshot("tab3", maxH).isEmpty) {
      val scoped = store.tabletRows.filter(
        col("tablet_id") === "tab3" && col("height") <= snapH)
      val idx = graft.snapshot.Snapshots.buildTabletIndex(scoped, "tab3", snapH)
      store.writeTabletSnapshot(idx, "tab3", snapH, scoped.count(), 1)
    }
    val (totalFiles) = manifest.pruneCounts(Nil)._2
    println(s"corpus: $commits commits, $totalFiles files, maxH $maxH")

    // ------------------------------------------------------------------
    // MANIFEST DEPTH: the manifest is a FULL live-file listing per
    // generation, so at depth G the file holds G entries (no compaction
    // in this corpus) — this probe prices one parse and the full
    // catch-up fold's G-parses-of-growing-manifests, the cost that
    // decides whether a checkpointed manifest is needed at ~86k/day.
    // ------------------------------------------------------------------
    {
      // Deepest generation with a FULL manifest (under the store's
      // checkpoint interval that is the last multiple of the interval,
      // not necessarily `commits` itself).
      // Full manifests are owner-suffixed objects (m-<gen>.<nonce>.json;
      // legacy tables carry the unsuffixed name). ONE directory listing
      // feeds the whole descending probe (a listing per generation was
      // O(commits × dir-entries) at depth). Candidate arbitration so the
      // diagnostic never prices a dead loser's attempt manifest: the
      // UNSUFFIXED object wins when present; among 2+ suffixed
      // candidates the generation SIDECAR's owner (the shared arbiter
      // resolution itself consults) picks — only a sidecar-less or
      // ownerless ambiguity falls back to smallest name, a
      // diagnostic-only tiebreak.
      val manifestList = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${store.tabletRowsPath}/_manifests"))
      val fullManifestByGen: Map[Long, org.apache.hadoop.fs.FileStatus] = {
        // THE shared name patterns (ManifestTable companion).
        manifestList.flatMap { st =>
          st.getPath.getName match {
            case graft.store.ManifestTable.OwnedManifestNameRe(g, _) =>
              Some(g.toLong -> st)
            case graft.store.ManifestTable.LegacyManifestNameRe(g) =>
              Some(g.toLong -> st)
            case _ => None
          }
        }.groupBy(_._1).map { case (g, sts) =>
          val cands = sts.map(_._2)
          val chosen = cands.find(_.getPath.getName == f"m-$g%09d.json")
            .orElse {
              if (cands.length == 1) Some(cands.head)
              // A torn/mid-write sidecar must not abort the probe — on
              // parse failure fall through to the name tiebreak.
              else scala.util.Try(manifest.deltaRecord(g)).toOption.flatten
                .flatMap(_.owner).flatMap(o =>
                  cands.find(_.getPath.getName == f"m-$g%09d.$o.json"))
            }
            .getOrElse(cands.minBy(_.getPath.getName))
          g -> chosen
        }
      }
      val (deepFull, mBytes) = (commits.toLong to 1L by -1L).iterator
        .flatMap(g => fullManifestByGen.get(g).map(st => (g, st.getLen)))
        .nextOption()
        .getOrElse(sys.error("no full manifest found"))
      val tParse = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        manifest.manifestEntriesFull(deepFull)
        (System.nanoTime() - t0) / 1e9
      }.min
      val t0 = System.nanoTime()
      var entries = 0L
      (1L to commits.toLong).foreach(g => entries += manifest.manifestEntries(g).size)
      val tFold = (System.nanoTime() - t0) / 1e9
      // Total metadata the ingest WROTE (what an object store bills as
      // PUT bytes): full manifests + delta sidecars. Interval 1 writes
      // O(g) per commit → quadratic total; interval N amortizes.
      val mdBytes = manifestList.map(_.getLen).sum
      // The delta-sidecar fold (what the changefeed's fast path actually
      // runs): O(commit size) per generation instead of O(live files).
      val t1 = System.nanoTime()
      var deltaFiles = 0L
      var deltasSeen = 0L
      (1L to commits.toLong).foreach(g => manifest.deltaEntry(g).foreach { d =>
        deltasSeen += 1; deltaFiles += d._2.size })
      val tDelta = (System.nanoTime() - t1) / 1e9
      println(f"MPROBE commits=$commits query=manifest_depth bytes=$mBytes " +
        f"parse_deepest=$tParse%.3f fold_all=$tFold%.2f fold_entries=$entries " +
        f"delta_fold=$tDelta%.2f deltas=$deltasSeen delta_files=$deltaFiles " +
        f"metadata_written_mb=${mdBytes / 1e6}%.1f")
    }

    def reportCounts(name: String, filters: Seq[ManifestTable.StatsFilter]): Unit = {
      val (kept, total) = manifest.pruneCounts(filters)
      println(s"MPROBE commits=$commits query=$name files_kept=$kept files_total=$total")
    }
    reportCounts("read_mid", Seq(
      ManifestTable.StatsEq("tablet_id", "tab3"),
      ManifestTable.StatsLte("height", midH)))
    val hb = store.latestTabletSnapshot("tab3", maxH)
      .flatMap { case (sh, snap) =>
        graft.snapshot.Snapshots.hydrationBoundOf(snap).map(b => math.min(b, sh + 1))
      }.getOrElse(0L)
    reportCounts("read_head_snap", Seq(
      ManifestTable.StatsEq("tablet_id", "tab3"),
      ManifestTable.StatsGte("height", hb),
      ManifestTable.StatsLte("height", maxH)))

    val queries: Seq[(String, () => DataFrame)] = Seq(
      // The flagship read at mid height: pruned route (the store's own
      // path) vs the same computation over the unpruned union.
      "read_mid_pruned" -> (() => store.readTabletAt("tab3", midH)),
      "read_mid_unpruned" -> (() =>
        graft.read.TemporalReads.readTabletAt(store.tabletRows, "tab3", midH)),
      // The production HEAD read: snapshot route, whose hydration floor
      // turns into a manifest file floor — almost the whole history's
      // files never enter the plan.
      "read_head_snap_pruned" -> (() => store.readTabletAt("tab3", maxH)),
      "read_head_unpruned" -> (() =>
        graft.read.TemporalReads.readTabletAt(store.tabletRows, "tab3", maxH)),
      // Point read of one key at max height. Every commit file carries
      // every key (continuous churn), so ONLY the store's snapshot floor
      // prunes here — key bounds start paying after Z-ordered compaction
      // narrows per-file key ranges.
      "point_read_pruned" -> (() => store.readTabletRowAt("tab3", "k0042", maxH)),
      "point_read_unpruned" -> (() =>
        graft.read.TemporalReads.readTabletRowAt(
          store.tabletRows, "tab3", "k0042", maxH)),
      // Changefeed poll over the last 5 commits: the store's INCREMENTAL
      // plan (window scan + snapshot-pruned pre-resolve) vs the generic
      // one-pass dual argmax over the full history.
      "diff_tail_incremental" -> (() =>
        store.readTabletDiff("tab3", maxH - 5L * rowsPerCommit, maxH)),
      "diff_tail_generic" -> (() =>
        graft.read.TemporalReads.readTabletDiff(
          store.tabletRows, "tab3", maxH - 5L * rowsPerCommit, maxH)))

    val n = sys.env.getOrElse("PROBE_N", "5").toInt
    // Setting PROBE_SKIP_QUERIES (any value — presence triggers, the
    // PROBE_FULL convention) skips the timed read queries: the unpruned
    // contrasts grow linearly in file count — at deep corpora they
    // dominate the run without adding depth information; the depth
    // sections above and the catch-up/merge sections below are the point.
    val skipQueries = sys.env.contains("PROBE_SKIP_QUERIES")
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    if (!skipQueries) (1 to n).foreach { _ =>
      queries.foreach { case (name, mk) =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // Timing includes DataFrame CONSTRUCTION: resolving the manifest
        // and building the union is part of read latency, and planning
        // width is precisely what pruning attacks.
        mk().selectExpr("count(*)", "bit_xor(xxhash64(struct(*)))").collect()
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      }
    }
    if (!skipQueries) queries.foreach { case (name, _) =>
      val runs = samples(name)
      println(f"MPROBE commits=$commits query=$name min=${runs.min}%.2f " +
        runs.map(r => f"$r%.2f").mkString("runs=[", ",", "]"))
    }

    // ------------------------------------------------------------------
    // CHANGEFEED catch-up probe: subscribe from generation 0 on the
    // 256-commit table and drain everything in ONE micro-batch — the
    // worst-case plan the source ever builds (one scan per commit,
    // balanced union; left-deep would overflow the driver at real commit
    // counts). Contrast = the equivalent batch read of the same table.
    // ------------------------------------------------------------------
    {
      val ckRoot = s"/dev/shm/graft-mprobe-ck"
      def catchup(name: String, maxGens: Option[Long],
          availableNow: Boolean = false): Long = {
        fs.delete(new org.apache.hadoop.fs.Path(ckRoot), true)
        val rt = Runtime.getRuntime
        System.gc()
        val heap0 = rt.totalMemory() - rt.freeMemory()
        var heapMax = heap0
        val t0 = System.nanoTime()
        var caught = 0L
        var batches = 0L
        val w = store.changefeedStream(maxGenerationsPerTrigger = maxGens)
          .writeStream
          .option("checkpointLocation", s"$ckRoot/catchup")
          .foreachBatch { (b: DataFrame, _: Long) =>
            caught += b.count(); batches += 1
            heapMax = math.max(heapMax, rt.totalMemory() - rt.freeMemory())
          }
        val q = (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else w).start()
        if (availableNow) require(q.awaitTermination(600000L),
          s"$name: AvailableNow drain must self-terminate")
        else q.processAllAvailable()
        q.stop()
        val tCatchup = (System.nanoTime() - t0) / 1e9
        println(f"MPROBE commits=$commits query=$name min=$tCatchup%.2f " +
          f"rows=$caught batches=$batches heap_delta_mb=${(heapMax - heap0) / 1e6}%.0f")
        caught
      }
      // Uncapped: ONE all-or-nothing micro-batch (the pre-cap behavior);
      // capped at 256: the admission-controlled catch-up, resumable per
      // slice. Both must deliver exactly the batch-read row count.
      val caught = catchup("changefeed_catchup", None)
      val caughtCapped = catchup("changefeed_catchup_cap256", Some(256L))
      // Round-14 admission control: Trigger.AvailableNow + the cap must
      // drain the SAME backlog to convergence in ONE invocation, in
      // capped individually-committed slices (previously: one slice per
      // invocation), then self-terminate.
      val caughtAvNow = catchup("changefeed_catchup_avnow_cap256",
        Some(256L), availableNow = true)
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      val batchRows = store.tabletRows.count()
      val tBatch = (System.nanoTime() - t1) / 1e9
      require(caught == batchRows && caughtCapped == batchRows &&
        caughtAvNow == batchRows,
        s"catch-up rows $caught/$caughtCapped/$caughtAvNow != batch $batchRows")
      println(f"MPROBE commits=$commits query=changefeed_batch_read min=$tBatch%.2f")
    }

    // ------------------------------------------------------------------
    // FAT-GENERATION admission probe (round 15): generation-counted caps
    // bound how many COMMITS a micro-batch spans, not how much DATA — one
    // fat generation (the backfill-commit shape) still lands in an
    // all-or-nothing plan next to its neighbors. The byte budget
    // (`maxBytesPerTrigger`, costed from sidecar metadata alone) stops
    // the slice before the budget and admits the fat generation ALONE,
    // so every batch's scan volume is bounded by max(budget, one
    // commit) instead of by the backlog's worst neighborhood.
    // ------------------------------------------------------------------
    {
      val fatRoot = s"/dev/shm/graft-mprobe-fat"
      fs.delete(new org.apache.hadoop.fs.Path(fatRoot), true)
      val fatStore = new StateStore(fatRoot)
      def smallCommit(c: Int): Unit = fatStore.writeTabletRows(
        spark.range(rowsPerCommit).select(
          lit(1).as("collection"), lit("tabf").as("tablet_id"),
          (lit(c.toLong * rowsPerCommit) + col("id")).as("height"),
          format_string("k%05d", col("id")).as("primary_key"),
          encode(concat(lit("s"), col("id").cast("string")), "UTF-8").as("value"),
          lit(false).as("is_deletion")).coalesce(1), f"fat-s$c%04d")
      val fatRows = 2000000L
      (0 until 24).foreach(smallCommit)
      fatStore.writeTabletRows( // the backfill commit: ~3 orders fatter
        spark.range(fatRows).select(
          lit(1).as("collection"), lit("tabf").as("tablet_id"),
          (lit(24L * rowsPerCommit) + col("id")).as("height"),
          format_string("k%07d", col("id")).as("primary_key"),
          encode(concat(lit("f"), col("id").cast("string")), "UTF-8").as("value"),
          lit(false).as("is_deletion"))
          .repartitionByRange(8, col("height"))
          .sortWithinPartitions(col("height")), "fat-backfill")
      (0 until 23).foreach(c => smallCommit(c + 24 + fatRows.toInt / rowsPerCommit))
      val fatCk = s"/dev/shm/graft-mprobe-fat-ck"
      def drain(name: String, gens: Option[Long], bytes: Option[Long]): Unit = {
        fs.delete(new org.apache.hadoop.fs.Path(fatCk), true)
        val rt = Runtime.getRuntime
        System.gc()
        val heap0 = rt.totalMemory() - rt.freeMemory()
        var heapMax = heap0
        var batches = 0L
        var total = 0L
        var maxBatchRows = 0L
        val t0 = System.nanoTime()
        val q = fatStore.changefeedStream(
            maxGenerationsPerTrigger = gens, maxBytesPerTrigger = bytes)
          .writeStream
          .option("checkpointLocation", s"$fatCk/drain")
          .foreachBatch { (b: DataFrame, _: Long) =>
            val rows = b.count()
            batches += 1; total += rows
            maxBatchRows = math.max(maxBatchRows, rows)
            heapMax = math.max(heapMax, rt.totalMemory() - rt.freeMemory())
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(600000L), s"$name must self-terminate")
        val secs = (System.nanoTime() - t0) / 1e9
        require(total == 47L * rowsPerCommit + fatRows,
          s"$name drained $total rows, corpus has ${47L * rowsPerCommit + fatRows}")
        // commits=48 — the FAT corpus's own size (47 small + 1 fat), not
        // the outer probe's `commits` arg, so cross-round comparisons by
        // the commits= key attribute these rows to the right corpus.
        println(f"MPROBE commits=48 query=$name min=$secs%.2f " +
          f"batches=$batches max_batch_rows=$maxBatchRows " +
          f"heap_delta_mb=${(heapMax - heap0) / 1e6}%.0f")
      }
      drain("fat_catchup_uncapped", None, None)
      drain("fat_catchup_gencap8", Some(8L), None)
      drain("fat_catchup_gencap8_budget4mb", Some(8L), Some(4L * 1024 * 1024))
      // DEFAULT budget (round 16): with NO explicit cap, the changefeed
      // applies maxFiles = defaultMaxFilesPerTrigger. At the real default
      // (1000) this 55-file corpus is one slice, so shrink the default to
      // probe scale: catch-up under pure defaults must split on the file
      // budget and still converge completely.
      sys.props("graft.changefeed.defaultMaxFiles") = "8"
      try drain("fat_catchup_default8files", None, None)
      finally sys.props.remove("graft.changefeed.defaultMaxFiles")
    }

    // ------------------------------------------------------------------
    // MERGE probe: the copy-on-write serving-table write path. A compacted
    // serving table (32 range-partitioned files, tight (tablet_id,
    // primary_key) bounds per file) takes a point-update micro-batch; the
    // stats-driven merge should rewrite only the files whose key range is
    // touched, while the SAME merge against a stats-less target (no bounds
    // recorded → every file conservatively matches) measures what
    // skipping the metadata costs: a full-table rewrite per commit.
    // ------------------------------------------------------------------
    // Serving table sized so the contrast is honest: 2M live keys across
    // the 8 tablets (the probe store's own state is only tablets×500 keys
    // — far too small to separate a 1-file rewrite from a full one).
    val servingFiles = 32
    val servingKeys = 2000000L
    def buildServing(path: String, withStats: Boolean): ManifestTable = {
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val t =
        if (withStats)
          new ManifestTable(path, graft.model.Schemas.tabletRows,
            statsCols = Seq("tablet_id", "primary_key"))
        else new ManifestTable(path, graft.model.Schemas.tabletRows)
      t.commit(servingState(maxH), "base")
      t
    }
    // ONE definition of the synthetic serving state (both the merge probe
    // and the latency probe commit it — drift between the two would skew
    // their comparison).
    def servingState(height: Long): DataFrame =
      spark.range(servingKeys).select(
          lit(1).as("collection"),
          concat(lit("tab"), (col("id") % tablets).cast("string")).as("tablet_id"),
          lit(height).as("height"),
          format_string("k%07d", (col("id") / tablets).cast("long")).as("primary_key"),
          encode(concat(lit("v"), col("id").cast("string")), "UTF-8").as("value"),
          lit(false).as("is_deletion"))
        .repartitionByRange(servingFiles, col("tablet_id"), col("primary_key"))
        .sortWithinPartitions(col("tablet_id"), col("primary_key"))
    val statsTarget = buildServing(s"$root/serving_stats", withStats = true)
    val plainTarget = buildServing(s"$root/serving_plain", withStats = false)
    def pointBatch(run: Int): DataFrame =
      spark.range(10).select(
        lit(1).as("collection"), lit("tab3").as("tablet_id"),
        lit(maxH + run).as("height"),
        format_string("k%07d", col("id")).as("primary_key"),
        encode(concat(lit("upd"), col("id").cast("string")), "UTF-8").as("value"),
        lit(false).as("is_deletion"))
    // Write-amplification contrast: the same 10-key batch with keys SPREAD
    // evenly across the key space — every touched file rewrites, the
    // worst case the stats can't help (the skewed/clustered batch above
    // is the best case: all keys in one file's bounds box).
    def spreadBatch(run: Int): DataFrame =
      spark.range(10).select(
        lit(1).as("collection"), lit("tab3").as("tablet_id"),
        lit(maxH + 100 + run).as("height"),
        format_string("k%07d",
          (col("id") * (servingKeys / tablets / 10L)).cast("long")).as("primary_key"),
        encode(concat(lit("spr"), col("id").cast("string")), "UTF-8").as("value"),
        lit(false).as("is_deletion"))
    val mergeSamples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    var lastReports = Map.empty[String, ManifestTable.MergeReport]
    (1 to n).foreach { run =>
      Seq(
        ("merge_stats", statsTarget, pointBatch(run)),
        ("merge_stats_spread", statsTarget, spreadBatch(run)),
        ("merge_plain", plainTarget, pointBatch(run))).foreach {
        case (name, t, batch) =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val rep = t.merge(batch, Seq("tablet_id", "primary_key"),
            "height", "is_deletion", f"$name-$run%03d")
          mergeSamples(name) = mergeSamples(name) :+ (System.nanoTime() - t0) / 1e9
          lastReports += name -> rep
      }
    }
    mergeSamples.toSeq.sortBy(_._1).foreach { case (name, runs) =>
      val rep = lastReports(name)
      println(f"MPROBE commits=$commits query=$name min=${runs.min}%.2f " +
        s"rewritten=${rep.rewritten} kept=${rep.kept} " +
        runs.map(r => f"$r%.2f").mkString("runs=[", ",", "]"))
    }

    // ------------------------------------------------------------------
    // COMMIT→SERVE latency probe: the full materializer pipeline in
    // steady state — one store commit, the changefeed drains it, the
    // copy-on-write merge lands it in the PRE-POPULATED 2M-key serving
    // table. This is the end-to-end freshness a serving consumer sees
    // per micro-batch. A fresh small source store isolates the number
    // from the 256-commit corpus above (merge cost depends on the
    // TARGET, not the source).
    // ------------------------------------------------------------------
    {
      import graft.streaming.StateMaterializer
      val liveRoot = s"/dev/shm/graft-mprobe-live"
      fs.delete(new org.apache.hadoop.fs.Path(liveRoot), true)
      val liveStore = new StateStore(liveRoot)
      val matTarget = s"$liveRoot/serving"
      val t = StateMaterializer.targetTable(matTarget)
      // Pre-populate: the same 2M-key state, range-partitioned, stats on.
      t.commit(servingState(0L), "base")
      val q = StateMaterializer.start(liveStore, matTarget,
        s"$liveRoot/_ck", startingGeneration = "latest")
      q.processAllAvailable()
      val lats = (1 to n).map { i =>
        val commitDf = spark.range(rowsPerCommit).select(
          lit(1).as("collection"),
          concat(lit("tab"), (col("id") % tablets).cast("string")).as("tablet_id"),
          (lit(i.toLong * rowsPerCommit) + col("id")).as("height"),
          format_string("k%07d", (col("id") / tablets).cast("long")).as("primary_key"),
          encode(concat(lit("u"), col("id").cast("string")), "UTF-8").as("value"),
          lit(false).as("is_deletion"))
        val t0 = System.nanoTime()
        liveStore.writeTabletRows(commitDf.coalesce(1), f"live-$i%05d")
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      println(f"MPROBE commits=$commits query=commit_to_serve min=${lats.min}%.2f " +
        lats.map(r => f"$r%.2f").mkString("runs=[", ",", "]"))
    }
    spark.stop()
  }
}
