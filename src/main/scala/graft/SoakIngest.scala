package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model._
import graft.store.StateStore
import graft.streaming.{IngestionPipeline, JoiningSource, LiveBlockSource, StateMaterializer, StreamedBlock}

/** Sustained-ingestion SOAK at the reference's cadence — not a throughput
  * sprint (perfbench's `ingest_rows_per_s` is that) but the full serving loop held at its
  * design rate for tens of minutes, watching for drift that short gates
  * cannot show: steady-state commit→serve lag, manifest metadata growth
  * under `checkpointInterval = 8`, and driver heap.
  *
  * Topology = the production shape end to end:
  *
  *   archive (catch-up) ∪ live TCP (JSON frames)   — [[JoiningSource]],
  *     seam overlap deduped by the commit path
  *   → [[IngestionPipeline]] at a 1 s trigger      — the reference's flush
  *     cadence (pipeline.go:374–382: ≥5k rows or 1 s)
  *   → manifest-protocol [[StateStore]] (interval 8)
  *   → changefeed → [[StateMaterializer]] merge    — the serving table,
  *     compacted every ~5 min like an operator would
  *
  * The feeder emits `rowsPerBlock`-row blocks at `blocksPerSec`, default
  * 10 × 500 = 5,000 rows/s — the reference envelope. Every `sampleSecs`
  * the driver prints one JSON line: feeder head, store checkpoint height
  * and its lag, serving table max height and ITS lag, generation pointer,
  * manifest metadata bytes/files for both tables, and driver heap after a
  * GC. The last line is a summary (max/steady lags, growth rates).
  *
  * Run: `sbt "runMain graft.SoakIngest [minutes] [blocksPerSec] [rowsPerBlock] [forkCompactMs]"`
  */
object SoakIngest {
  def main(args: Array[String]): Unit = {
    val minutes = if (args.length > 0) args(0).toInt else 30
    val blocksPerSec = if (args.length > 1) args(1).toInt else 10
    val rowsPerBlock = if (args.length > 2) args(2).toInt else 500
    // CONTENTION MODE knob: how often the forked second publisher
    // compacts the serving target. The 45 s default is the operator
    // cadence (steady-state soak); ~5 s makes cross-process publish
    // contention land for real — merges lose races / get fenced / rebase
    // in the wild instead of only under deterministic spec hooks.
    val forkCompactMs = if (args.length > 3) args(3).toLong else 45000L
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-graft")
      // FAIR + per-query pools (graft-ingest / graft-serve, set by the
      // components themselves): under the FIFO default the serving
      // merge's multi-second job queue BLOCKS the ingest trigger —
      // soak-measured as 60–80 s ingest stalls that self-reinforce
      // (bigger batch → longer merge → longer stall). FAIR keeps the
      // 1 s ingest cadence flat while maintenance runs beside it.
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Publish-retry budget: the default (time-based, lease + 60 s ≈ 11
    // min) already outlives any compaction hold that resolves, so no
    // override is needed — co-located merges wait out the reservation
    // and proceed; only a genuinely dead holder makes them wait the
    // lease, after which the takeover path unblocks.

    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val root = s"$base/store"
    val target = s"$base/serving"
    val store = new StateStore(root)
    // Async index maintenance (round 15): snapshot builds leave the
    // commit path — the soak's residual ~10 s commit-lag sawtooth was the
    // per-batch build slot itself (PLANS.md round-14 run-4 table).
    val pipeline = new IngestionPipeline(store, asyncIndexMaintenance = true)

    def block(h: Long) = StreamedBlock(
      s"b$h", s"b${h - 1}", h, "irreversible",
      (0 until rowsPerBlock).map(i =>
        TabletRowM(1, s"t${i % 16}", h, f"pk${(h * rowsPerBlock + i) % 9973}%06d",
          s"value-$h-$i".getBytes("UTF-8"), false)),
      if (h % 50 == 0) Seq(SingletEntryM(7, "head", h,
        s"h$h".getBytes("UTF-8"), false)) else Nil)

    // CATCH-UP history: ~60 s of blocks in the archive; the live feeder
    // starts 30 blocks BEFORE the archive tail so the seam overlap is
    // real (byte-identical redelivery deduped by the commit path).
    val archiveDir = s"$base/archive"
    val archiveHead = 60L * blocksPerSec
    val liveStart = archiveHead - 30
    (0L until archiveHead by 100L).foreach { lo =>
      graft.streaming.BlockArchiveSource.writeArchiveFile(
        (math.max(1L, lo) to math.min(archiveHead, lo + 99L)).map(block),
        archiveDir)
    }

    // LIVE side: a TCP server the feeder thread drips JSON frames into at
    // the target cadence, forever (until the soak ends). Encoding is
    // DECOUPLED from the cadence: a separate thread pre-encodes frames in
    // 300-block chunks (one Spark job per chunk) into a bounded queue —
    // the first soak run showed the generator itself stalling 60 s behind
    // a serving merge because every frame's encode was its own Spark job
    // queued on the shared scheduler, which made the measured ingest lag
    // a harness artifact.
    val server = new java.net.ServerSocket(0)
    @volatile var feederHead = liveStart - 1
    @volatile var stopFeeder = false
    val frameQueue = new java.util.concurrent.LinkedBlockingQueue[String](1500)
    val encoder = new Thread(() => {
      var h = liveStart
      while (!stopFeeder) {
        val frames = LiveBlockSource.toJsonFrames((h until h + 300L).map(block))
        h += 300
        frames.foreach { f =>
          while (!stopFeeder && !frameQueue.offer(f,
            1, java.util.concurrent.TimeUnit.SECONDS)) ()
        }
      }
    }, "soak-encoder")
    encoder.setDaemon(true)
    encoder.start()
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val perFrameNanos = 1000000000L / blocksPerSec
      var nextAt = System.nanoTime()
      while (!stopFeeder) {
        val f = frameQueue.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        if (f != null) {
          out.println(f)
          feederHead += 1
          nextAt += perFrameNanos
          val waitNs = nextAt - System.nanoTime()
          if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        }
      }
      out.flush()
    }, "soak-feeder")
    feeder.setDaemon(true)
    feeder.start()

    val joined = JoiningSource.fromArchiveWithLive(
      spark, archiveDir,
      LiveBlockSource.fromSocket(spark, "localhost", server.getLocalPort),
      maxFilesPerTrigger = Some(20))
    val ingest = pipeline.start(joined, s"$base/ck-ingest", triggerMillis = 1000)
    // One shared target handle so the MERGE side's publish-contention
    // counters (vs the fork writer's compactions) are readable at exit.
    val targetHandle = StateMaterializer.targetTable(target)
    def startServe() = StateMaterializer.start(store, target, s"$base/ck-serve",
      targetHandle = Some(targetHandle))
    var serve = startServe()

    // CONCURRENT READER (round 15): a second SparkSession against the
    // same root — the TVF-reader-fleet shape — issuing as-of and diff
    // reads every few seconds WHILE ingest, serving merges, compaction,
    // index builds, and retention sweeps all run. What it proves: reads
    // inside the retention window never crash mid-sweep (the sweeps below
    // use the minAge guard), and read staleness stays bounded. Reader
    // errors are counted and reported — the pass criterion is zero.
    val readerSpark = spark.newSession()
    val readerStore = new StateStore(root)(readerSpark)
    @volatile var stopReader = false
    val readerErrors = new java.util.concurrent.atomic.AtomicLong(0)
    val readerReads = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var lastReadMillis = -1L
    val reader = new Thread(() => IngestionPipeline.inPool(readerSpark, "graft-reader") {
      while (!stopReader) {
        try {
          // checkpointFresh, NOT checkpoint: the plain accessor is a
          // single-writer cache and would freeze a never-writing reader
          // at its first observation — every poll would then replay one
          // historical window and the staleness claim would be vacuous.
          val ck = readerStore.checkpointFresh(StateStore.GlobalCheckpointKey)
            .map(_.height).getOrElse(-1L)
          if (ck > 1L) {
            val t0 = System.nanoTime()
            val n = readerStore.readTabletAt("t3", ck).count()
            require(n > 0, s"empty as-of read at checkpoint $ck")
            val d = readerStore.readTabletDiff("t3", math.max(0L, ck - 20L), ck)
            d.count()
            org.apache.spark.sql.graftbridge.GraftBridge.freeCheckpoint(d)
            readerReads.addAndGet(2L)
            lastReadMillis = (System.nanoTime() - t0) / 1000000L
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            readerErrors.incrementAndGet()
            println(s"""{"soak_reader_error":"${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").take(160).replace("\"", "'")
                .replace("\n", " ")}"}""")
        }
        Thread.sleep(5000L)
      }
    }, "soak-reader")
    reader.setDaemon(true)
    reader.start()

    // FORKED-PROCESS READER (round 16): a real second JVM — own block
    // manager, scheduler, store instance — doing the same read mix via
    // graft.SoakReader. What the in-JVM reader above cannot prove: the
    // cross-process read path against live pointer swaps/sweeps, and the
    // read-mix counters' merge-on-flush summing across processes.
    val forkSummaryFile = s"$base/fork-reader-summary.json"
    def forkJvm(mainClass: String, jvmArgs: Seq[String], tag: String): Option[Process] = {
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cp = System.getProperty("java.class.path")
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx4g", "-Dspark.ui.enabled=false", "-cp", cp, mainClass) ++
        jvmArgs).toArray
      try Some(new ProcessBuilder(cmd: _*).inheritIO().start())
      catch {
        case scala.util.control.NonFatal(e) =>
          println(s"""{"soak_fork_${tag}_spawn_failed":"${e.getMessage}"}""")
          None
      }
    }
    val forkReader: Option[Process] = forkJvm("graft.SoakReader",
      Seq(root, (minutes.toLong * 60L).toString, "7000", forkSummaryFile),
      "reader")

    // FORKED-PROCESS WRITER (round 17): a real second PUBLISHING JVM —
    // graft.SoakWriter compacts the serving target every ~45 s while the
    // materializer in THIS process merges into it every second (and this
    // process's own 5-min compaction races it too). What the in-JVM
    // concurrency specs cannot prove: exclusive-create, reservation
    // blocking, the fencing nonce, and the time-based retry budget across
    // real process boundaries. serve_equiv_match at the end is the
    // zero-lost-commits arbiter.
    val forkWriterSummaryFile = s"$base/fork-writer-summary.json"
    val forkWriter: Option[Process] = forkJvm("graft.SoakWriter",
      Seq(target, (minutes.toLong * 60L).toString, forkCompactMs.toString,
        forkWriterSummaryFile),
      "writer")

    def dirBytes(p: String): (Long, Long) = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(path)) (0L, 0L)
      else {
        var bytes = 0L; var files = 0L
        val it = fs.listFiles(path, true)
        while (it.hasNext) { val f = it.next(); bytes += f.getLen; files += 1 }
        (bytes, files)
      }
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

    val deadline = System.currentTimeMillis() + minutes.toLong * 60000L
    val sampleSecs = 15
    var lastCompact = System.currentTimeMillis()
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(sampleSecs * 1000L)
      val head = feederHead
      val ckpt = store.checkpoint(StateStore.GlobalCheckpointKey).map(_.height).getOrElse(0L)
      val served = scala.util.Try(
        StateMaterializer.read(target).agg(max("height")).collect()
          .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
          .getOrElse(0L)).getOrElse(0L)
      val gen = store.manifestTableFor(store.tabletRowsPath)
        .currentGeneration().getOrElse(0L)
      val (mBytes, mFiles) = dirBytes(s"$root/tablet_rows/_manifests")
      val (tBytes, tFiles) = dirBytes(s"$target/_manifests")
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      val el = (System.currentTimeMillis() - t0) / 1000
      samples += ((el, head - ckpt, head - served, gen, mBytes, heapMb))
      // head_checks_*: the pipeline's periodic head consistency probe
      // (fires on the commit path every graft.headCheck.intervalMs) —
      // the soak proves it RUNS beside live cross-process publishers,
      // and that it stays clean on a conditional-create-honoring store.
      val (hcClean, hcDamaged, _) = pipeline.headCheckStats
      println(s"""{"soak_sample":{"elapsed_sec":$el,"feeder_head":$head,""" +
        s""""ckpt_height":$ckpt,"commit_lag_blocks":${head - ckpt},""" +
        s""""served_height":$served,"serve_lag_blocks":${head - served},""" +
        s""""generation":$gen,"store_manifest_bytes":$mBytes,""" +
        s""""store_manifest_files":$mFiles,"target_manifest_bytes":$tBytes,""" +
        s""""target_manifest_files":$tFiles,"heap_mb":$heapMb,""" +
        s""""head_checks_clean":$hcClean,"head_checks_damaged":$hcDamaged}}""")
      // Operator-cadence maintenance: compact the serving table's accreted
      // merge generations every ~5 min (rides through the changefeed as a
      // dataChange=false rewrite), then RETENTION-SWEEP both the store's
      // mutation table and the serving target while everything — ingest,
      // merges, the concurrent reader — keeps running: retain a ~3-minute
      // generation window (readers read at the current pointer, far
      // inside it) and skip anything younger than 2 minutes (the minAge
      // guard that makes a sweep beside LIVE writers safe — an in-flight
      // commit's directory is unreferenced until its pointer swap).
      if (System.currentTimeMillis() - lastCompact > 300000L) {
        // NO-PAUSE compaction (round 16): the serve query KEEPS RUNNING.
        // The optimistic publish makes the old compact-vs-merge race loud
        // instead of silent — replaceAllRetrying reserves the target's
        // next generation, merges landing mid-compaction conflict-retry
        // until the reservation publishes (their extended retry budget is
        // set above), and nothing is lost either way. The round-15
        // discipline (stop serve → compact → restart, 4–52 s pauses) is
        // gone; contention shows up only as a serve-lag excursion.
        val t0c = System.currentTimeMillis()
        StateMaterializer.compact(target)
        val compactMs = System.currentTimeMillis() - t0c
        // Sweeps beside live writers, as before (minAge guard).
        val targetMt = StateMaterializer.targetTable(target)
        val sweptTarget =
          targetMt.sweepOrphans(retainGenerations = 180, minAgeMillis = 120000L).size +
          targetMt.sweepOrphanFiles(retainGenerations = 180, minAgeMillis = 120000L).size
        val sweptStore = store.manifestTableFor(store.tabletRowsPath)
          .sweepOrphans(retainGenerations = 180, minAgeMillis = 120000L).size
        // The serving target has two cross-process publishers racing on
        // it — check ITS head too, each maintenance cycle.
        val targetHead = targetMt.verifyHead().getOrElse("clean")
        println(s"""{"soak_compact":{"elapsed_sec":$el,""" +
          s""""serve_pause_ms":0,"compact_ms":$compactMs,""" +
          s""""maintenance_ms":${System.currentTimeMillis() - t0c},""" +
          s""""swept_store_dirs":$sweptStore,"swept_target":$sweptTarget,""" +
          s""""target_head_check":"$targetHead"}}""")
        lastCompact = System.currentTimeMillis()
      }
    }
    stopFeeder = true
    stopReader = true
    // Final drain: let the pipeline catch the feeder's last block, then
    // summarize steady state (samples after the catch-up seam, i.e. the
    // second half). The reader is JOINED before the context dies so a
    // mid-flight read can't manufacture a shutdown-artifact error.
    Thread.sleep(3000L)
    reader.join(15000L)
    ingest.stop()
    // ZERO-LOST-COMMITS invariant for the no-pause compaction: after the
    // serve stream drains everything the store committed, the serving
    // table must equal the store's own as-of read at the served height —
    // a compaction that clobbered (or was clobbered by) a merge would
    // surface here as missing/stale keys.
    scala.util.Try(serve.processAllAvailable())
    val serveEquiv: String = scala.util.Try {
      // DISTRIBUTED equivalence: symmetric anti-join, no driver collect —
      // the r17 version collected both sides (one 3.9 GB heap spike at
      // ~10k keys; at 10x the key space it would OOM the soak driver
      // before proving anything). Count + two exceptAll keep the driver
      // at O(1) and scale with the cluster like every other read.
      val served = StateMaterializer.read(target)
        .filter(col("tablet_id") === "t3")
        .select("primary_key", "height")
      val servedH = served.agg(max("height")).collect()
        .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .getOrElse(0L)
      val expected = store.readTabletAt("t3", servedH)
        .select("primary_key", "height")
      val servedCount = served.count()
      val diverged =
        served.exceptAll(expected).count() + expected.exceptAll(served).count()
      s""""serve_equiv_height":$servedH,"serve_equiv_rows":$servedCount,""" +
        s""""serve_equiv_match":${diverged == 0L}"""
    }.getOrElse(""""serve_equiv_match":"error"""")
    serve.stop(); server.close()
    pipeline.stopIndexMaintenance()
    // Fold in the forked reader's summary (it runs to the same deadline).
    def foldForkSummary(p: Option[Process], file: String, tag: String): String =
      p.map { proc =>
        proc.waitFor(120L, java.util.concurrent.TimeUnit.SECONDS)
        if (proc.isAlive) proc.destroy()
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(file)), "UTF-8").trim
          .stripPrefix("{").stripSuffix("}"))
          .getOrElse(s""""fork_${tag}_errors":"no-summary"""")
      }.getOrElse(s""""fork_${tag}_errors":"not-spawned"""")
    val forkSummary: String =
      foldForkSummary(forkReader, forkSummaryFile, "reader")
    val forkWriterSummary: String =
      foldForkSummary(forkWriter, forkWriterSummaryFile, "writer")
    // Cross-process read-mix evidence: flush the in-JVM reader's and the
    // writer's instances too (the forked process flushed its own at
    // exit), then read the merged counters — all three instances' deltas
    // must have SUMMED, not last-writer-won.
    readerStore.readMix.flush()
    store.readMix.flush()
    val mergedTail = store.readMix.tailScans("t3")
    val mergedPoint = store.readMix.pointReads("t3")
    val steady = samples.drop(samples.size / 2)
    def rate(sel: ((Long, Long, Long, Long, Long, Long)) => Long): Double = {
      if (samples.size < 2) 0.0
      else (sel(samples.last) - sel(samples.head)).toDouble /
        (samples.last._1 - samples.head._1)
    }
    println(s"""{"soak_summary":{"minutes":$minutes,"rows_per_sec_target":${blocksPerSec * rowsPerBlock},""" +
      s""""samples":${samples.size},""" +
      s""""commit_lag_max":${samples.map(_._2).max},"commit_lag_steady_max":${steady.map(_._2).max},""" +
      s""""serve_lag_max":${samples.map(_._3).max},"serve_lag_steady_max":${steady.map(_._3).max},""" +
      s""""serve_lag_steady_mean":${fmt(steady.map(_._3).sum.toDouble / math.max(1, steady.size))},""" +
      s""""final_generation":${samples.last._4},""" +
      s""""manifest_bytes_per_sec":${fmt(rate(_._5))},""" +
      s""""heap_mb_first":${samples.head._6},"heap_mb_last":${samples.last._6},""" +
      s""""heap_mb_max":${samples.map(_._6).max},""" +
      s""""reader_reads":${readerReads.get()},"reader_errors":${readerErrors.get()},""" +
      s""""reader_last_read_ms":$lastReadMillis,""" +
      s""""readmix_merged_tail_t3":$mergedTail,"readmix_merged_point_t3":$mergedPoint,""" +
      s""""store_contention":"${store.publishContentionStats}",""" +
      s""""serve_merge_contention":"(${targetHandle.lostRaceCount.get()},""" +
      s"""${targetHandle.leaseTakeoverCount.get()},""" +
      s"""${targetHandle.fencedPublishCount.get()},""" +
      s"""${targetHandle.rebasedMergeCount.get()},""" +
      s"""${targetHandle.escalatedMergeCount.get()})",""" +
      s"""$serveEquiv,$forkSummary,$forkWriterSummary}}""")
    spark.stop()
  }
}
