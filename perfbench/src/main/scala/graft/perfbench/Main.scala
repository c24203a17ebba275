package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.TabletRowM
import graft.snapshot.Snapshots
import graft.store.{Backfill, StateStore}
import graft.streaming.{IngestionPipeline, StateMaterializer}

/** Closed-loop ingest → serve → as-of read benchmark of the temporal store.
  *
  * One driver thread, no timers: bootstrap a store through the backfill
  * path, then repeat { commit one micro-batch; let the serving query catch
  * up; issue a seeded mix of reads; check every result against [[Model]] }.
  * The first [[Main.WarmupIters]] iterations stay out of every timed
  * figure. Prints one JSON line: end-to-end metrics, or with `--trace 1`
  * the per-layer metrics.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>` */
object Main {
  val WarmupIters = 1
  val SetupReps = 2
  val PointReads = 8
  val HeadReads = 1
  val Kinds: Seq[String] = Seq("tablet_at", "row_at", "asof_join", "history", "diff")

  final case class Args(shape: Shape, seed: Long, seconds: Int, trace: Boolean, dir: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val shape = Shape.byName(need("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}; " +
        s"one of ${Shape.all.map(_.name).mkString(", ")}"))
    Args(shape, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("dir"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val selfTest = ModelSelfTest.run()
    if (selfTest.nonEmpty) {
      selfTest.foreach(f => System.err.println(s"model self-test FAILED: $f"))
      sys.exit(3)
    }
    // The store's periodic head check is time-gated; keep it out of the loop.
    System.setProperty("graft.headCheck.intervalMs", "0")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${args.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.dir}/warehouse")
    // The raw local file system renames in one step, as the object-store
    // protocol expects of its store. Hadoop's default checksummed one moves
    // a file and its .crc in two renames, and a reader between the two
    // fails on a checksum mismatch.
    builder.config("spark.hadoop.fs.file.impl",
      if (args.trace) classOf[CountingLocalFileSystem].getName
      else classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    if (args.trace) CountingLocalFileSystem.driver = Thread.currentThread()
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val result =
      try new Run(args, spark, sessionMs).run()
      finally spark.stop()
    println(result)
  }
}

final class Run(a: Main.Args, spark: SparkSession, sessionMs: Long) {
  import Main._
  import Stats._
  private implicit val session: SparkSession = spark
  import spark.implicits._

  private val shape = a.shape
  private val gen = new Generator(shape, a.seed)
  private val readRng = new SplittableRandom(a.seed * 0x9E3779B97F4A7C15L + 1)
  private val model = new Model
  private val tracer = if (a.trace) Some(new Tracer(spark)) else None

  private var attempted = 0L
  private var failed = 0L
  private var wrong = 0L
  private var reported = 0

  private def fail(what: String, why: String): Unit = {
    failed += 1
    if (reported < 20) { System.err.println(s"FAILED $what: $why"); reported += 1 }
  }

  /** One checked operation, the call to the program included: counted as
    * attempted; an exception or a wrong answer counts it as failed, and
    * the run goes on. Returns whether the operation raised no error. */
  private def checked(what: String)(body: => Option[String]): Boolean = {
    attempted += 1
    try {
      body.foreach { why => wrong += 1; fail(what, why) }
      true
    } catch { case NonFatal(e) => fail(what, e.toString); false }
  }

  private def expect[A](got: A, want: A): Option[String] =
    if (got == want) None else Some(s"got ${short(got)}, want ${short(want)}")

  private def short(x: Any): String = { val s = String.valueOf(x); if (s.length > 300) s.take(300) + "…" else s }

  // Timed operation: wall ms, plus the trace when tracing.
  private var opSeq = 0
  private var iterSpan = -1
  private def timedOp[T](name: String)(body: => T): (T, Double, Option[OpTrace]) = {
    opSeq += 1
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        val out = body
        (out, (System.nanoTime() - t0) / 1e6, None)
      case Some(tr) =>
        val (out, ms, trace) = tr.traced(s"$name#$opSeq", tr.begin(name, iterSpan))(body)
        (out, ms, Some(trace))
    }
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  // --------------------------------------------------------- bootstrap

  private final case class Boot(store: StateStore, target: String, query: StreamingQuery,
      phases: Map[String, Double], totalMs: Double, base: String)

  private lazy val bootRows: Seq[TabletRowM] = gen.bootstrap()
  private lazy val bootDf: DataFrame = bootRows.toDF(StateStore.tabletRowCols: _*)
  private lazy val blockRefs: DataFrame = (1L to shape.bootBlocks.toLong)
    .map(h => (h, Generator.blockId(h), h)).toDF("height", "block_id", "block_num")
  private lazy val squelch: Map[String, Long] =
    bootRows.groupBy(_.tabletId).map { case (t, rs) => t -> rs.size.toLong }

  private def bootstrap(rep: Int): Boot = {
    val base = s"${a.dir}/boot$rep"
    val shards = s"$base/shards"
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](n: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(n) = (System.nanoTime() - t0) / 1e6
    }
    val t0 = System.nanoTime()
    phase("backfill")(Backfill.run(bootDf, shards, shape.shards, Some(blockRefs)))
    val store = new StateStore(s"$base/store", StateStore.ManifestCommit)
    phase("inject")((0 until shape.shards).foreach(Backfill.injectShard(spark, shards, _, store)))
    phase("finalize")(store.finalizeSharding(shape.shards))
    val h0 = shape.bootBlocks.toLong
    phase("snapshot") {
      // One scan of the backfilled rows feeds every tablet's index build.
      val rows = store.tabletRows.persist()
      try (0 until shape.tablets).map(gen.tabletId).foreach { t =>
        store.writeTabletSnapshot(Snapshots.buildTabletIndex(rows, t, h0),
          t, h0, squelch.getOrElse(t, 0L), gen.Collection)
      } finally rows.unpersist()
    }
    val target = s"$base/serving"
    val query = phase("catchup") {
      val q = StateMaterializer.start(store, target, s"$base/serving-checkpoint")
      q.processAllAvailable()
      q
    }
    Boot(store, target, query, phases.toMap, (System.nanoTime() - t0) / 1e6, base)
  }

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  private def bytesUnder(p: String, keep: java.nio.file.Path => Boolean = _ => true): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) && keep(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }

  // ------------------------------------------------------------ samples

  private val commitMs, lagMs, catchupMs, pointMs, headMs, headBuildMs, headExecMs,
    overlayMs, indexCommitMs = mutable.ArrayBuffer.empty[Double]
  private val histMs = mutable.LinkedHashMap(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
  private var rowsIngested = 0L
  private var indexBuilds = 0L
  // Traced-run samples.
  private val commitTraces, pointTraces, headTraces, histTraces = mutable.ArrayBuffer.empty[OpTrace]
  private var histRowsReturned = 0L
  private val serveBatches = mutable.ArrayBuffer.empty[ServeBatch]
  private var serveJobs = 0L
  private var serveBytes = 0L

  def run(): String = {
    tracer.foreach(_.attach())
    // Inputs first: generating them is the benchmark's work, not set-up.
    bootRows; bootDf; blockRefs
    val boots = (0 until SetupReps).map { rep =>
      val b = bootstrap(rep)
      if (rep < SetupReps - 1) { b.query.stop(); deleteTree(b.base) }
      b
    }
    val boot = boots.last
    val store = boot.store
    val h0 = shape.bootBlocks.toLong
    model.addRows(bootRows)
    model.checkpoint = h0
    checked("bootstrap checkpoint")(expect(
      store.checkpoint(StateStore.GlobalCheckpointKey).map(_.height), Some(h0)))
    tracer.foreach { t => t.takeServe(); t.clear() }

    val pipeline = new IngestionPipeline(store, indexMinMutations = shape.indexMinMutations,
      maxIndexBuildsPerBatch = 1)
    // A failed commit leaves the store and the model apart, so the loop
    // stops there; the result still reports the counts, with correct false.
    var committed = true
    var k = 0
    while (committed && k < WarmupIters) {
      committed = iteration(k, timed = false, h0, store, pipeline, boot); k += 1
    }
    tracer.foreach { t => t.takeServe(); t.clear() }
    val timedStart = System.nanoTime()
    val gc0 = gcMs()
    while (committed && (k < WarmupIters + shape.minTimedIters ||
        (System.nanoTime() - timedStart) / 1e9 < a.seconds)) {
      committed = iteration(k, timed = true, h0, store, pipeline, boot)
      k += 1
    }
    val timedSecs = (System.nanoTime() - timedStart) / 1e9
    val gcTimed = gcMs() - gc0
    val timedIters = k - WarmupIters

    // End-of-run checks.
    checked("mutation row count")(expect(store.tabletRows.count(), model.durableRows))
    checked("singlet entry count")(expect(store.singletEntries.count(), model.durableEntries))
    checked("checkpoint height")(expect(
      store.checkpointFresh(StateStore.GlobalCheckpointKey).map(_.height), Some(model.checkpoint)))
    checked("serving live keys")(expect(
      StateMaterializer.read(boot.target).count(), model.liveKeys))

    val storeBytes = bytesUnder(store.root)
    boot.query.stop()

    val setupMs = boots.map(_.totalMs)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = ((sessionMs + median(setupMs)) / 1e3, "s")
      metrics("ingest_rows_per_s") = (rowsIngested / (commitMs.sum / 1e3), "rows/s")
      metrics("serve_lag_ms_p50") = (median(lagMs), "ms")
      metrics("head_read_ms_p50") = (median(headMs), "ms")
      metrics("point_read_ms_p50") = (median(pointMs), "ms")
      metrics("asof_reads_per_s") = (balancedRate(histMs.values.toSeq), "reads/s")
      metrics("store_bytes_per_row") =
        (storeBytes.toDouble / (model.durableRows + model.durableEntries), "B/row")
    } else {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val liveFiles = store.tabletRows.inputFiles.length + store.singletEntries.inputFiles.length
      val servingFiles = StateMaterializer.targetTable(boot.target).read().inputFiles.length
      val metadataBytes = Seq(store.tabletRowsPath, store.singletEntriesPath)
        .map(bytesUnder(_, !_.getFileName.toString.endsWith(".parquet"))).sum
      metrics("streaming.commit_ms_p50") = (median(commitMs), "ms")
      metrics("streaming.commit_jobs") = (mean(commitTraces.map(_.jobs.toDouble).toSeq), "count")
      metrics("streaming.commit_driver_ms_p50") =
        (median(commitMs.zip(commitTraces).map { case (w, t) => w - t.jobMs }.toSeq), "ms")
      metrics("streaming.index_builds") = (indexBuilds.toDouble, "count")
      metrics("streaming.index_commit_ms_p50") = (median(indexCommitMs), "ms")
      metrics("streaming.overlay_ms_p50") = (median(overlayMs), "ms")
      metrics("serve.catchup_ms_p50") = (median(catchupMs), "ms")
      metrics("serve.plan_ms_p50") = (median(serveBatches.map(_.planMs.toDouble).toSeq), "ms")
      metrics("serve.merge_ms_p50") = (median(serveBatches.map(_.mergeMs.toDouble).toSeq), "ms")
      metrics("serve.jobs") = (serveJobs.toDouble / math.max(1, serveBatches.size), "count")
      metrics("serve.write_bytes_per_row") =
        (serveBytes.toDouble / math.max(1L, serveBatches.map(_.rows).sum), "B/row")
      metrics("serve.files") = (servingFiles.toDouble, "count")
      metrics("store.live_files") = (liveFiles.toDouble, "count")
      metrics("store.fs_ops_per_commit") = (mean(commitTraces.map(_.fsOps.toDouble).toSeq), "count")
      metrics("store.write_bytes_per_row") =
        (commitTraces.map(_.bytesWritten).sum.toDouble / math.max(1L, rowsIngested), "B/row")
      metrics("store.metadata_bytes") = (metadataBytes.toDouble, "B")
      Seq("backfill", "inject", "finalize", "snapshot", "catchup").foreach { p =>
        metrics(s"setup.${p}_ms") = (median(boots.map(_.phases(p))), "ms")
      }
      Kinds.foreach(kd => metrics(s"read.${kd}_ms_p50") = (median(histMs(kd).toSeq), "ms"))
      metrics("read.jobs_per_read") = (mean(histTraces.map(_.jobs.toDouble).toSeq), "count")
      metrics("read.rows_scanned_per_row_returned") =
        (histTraces.map(_.scanRows).sum.toDouble / math.max(1L, histRowsReturned), "ratio")
      metrics("read.plan_ms_p50") =
        (median((pointTraces ++ headTraces ++ histTraces).map(_.planMs.toDouble).toSeq), "ms")
      metrics("read.files_per_read") = (mean(histTraces.map(_.scanFiles.toDouble).toSeq), "count")
      metrics("read.point_files") = (mean(pointTraces.map(_.scanFiles.toDouble).toSeq), "count")
      metrics("read.head_build_ms_p50") = (median(headBuildMs), "ms")
      metrics("read.head_exec_ms_p50") = (median(headExecMs), "ms")
      metrics("jvm.gc_ms") = (gcTimed.toDouble, "ms")
    }
    tracer.foreach { t =>
      t.detach()
      t.writeSpans(java.nio.file.Paths.get(a.dir, "spans.json"))
    }
    System.err.println(f"perfbench: ${shape.name} seed ${a.seed}: $timedIters timed iterations " +
      f"in $timedSecs%.1f s, setup reps ${setupMs.map(m => f"${m / 1e3}%.2f").mkString("/")} s, " +
      f"session ${sessionMs / 1e3}%.2f s, gc $gcTimed ms")
    boots.foreach(b => System.err.println("perfbench: setup phases ms " +
      b.phases.map { case (n, v) => f"$n=$v%.0f" }.mkString(" ")))
    deleteTree(boot.base)
    toJson(attempted, failed, committed && wrong == 0, metrics.toSeq)
  }

  // ---------------------------------------------------------- iteration

  /** One iteration; returns false when its commit failed. */
  private def iteration(k: Int, timed: Boolean, h0: Long, store: StateStore,
      pipeline: IngestionPipeline, boot: Boot): Boolean = {
    iterSpan = tracer.fold(-1)(_.begin(s"iteration$k", -1))
    val (irr, nw) = gen.batch(k, h0)
    val ds = (irr ++ nw).toDS()
    val irrRows = irr.map(b => b.tabletRows.size + b.singletEntries.size).sum
    val builds0 = pipeline.maintenanceStats._3

    // Commit, then let the serving query catch up.
    val lagStart = System.nanoTime()
    var cMs, uMs = 0.0
    var cTrace: Option[OpTrace] = None
    val committed = checked("commit") {
      val (_, ms, tr) = timedOp("commit")(pipeline.commitBatch(ds, k.toLong))
      cMs = ms; cTrace = tr
      irr.foreach { b => model.addRows(b.tabletRows); model.addEntries(b.singletEntries) }
      model.checkpoint = irr.last.num
      expect(store.checkpoint(StateStore.GlobalCheckpointKey).map(_.height), Some(model.checkpoint))
    }
    if (!committed) {
      tracer.foreach { t => t.end(iterSpan); t.clear() }
      return false
    }
    val builds = pipeline.maintenanceStats._3 - builds0
    val caughtUp = checked("catch-up") {
      uMs = timedOp("catchup")(boot.query.processAllAvailable())._2
      None
    }
    val lag = (System.nanoTime() - lagStart) / 1e6
    if (timed) {
      commitMs += cMs
      if (caughtUp) { catchupMs += uMs; lagMs += lag }
      rowsIngested += irrRows
      indexBuilds += builds
      if (builds > 0) indexCommitMs += cMs
      cTrace.foreach(commitTraces += _)
      tracer.foreach { t =>
        val (jobs, bytes, batches) = t.takeServe()
        serveJobs += jobs; serveBytes += bytes; serveBatches ++= batches
      }
    }
    tracer.foreach(_.takeServe())

    // Serving point lookups.
    (0 until PointReads).foreach { _ =>
      val (t, pk) = gen.readPair(readRng)
      checked(s"point read $t/$pk") {
        val (res, ms, tr) = timedOp("point_read") {
          StateMaterializer.readRow(boot.target, t, pk).collect()
        }
        if (timed) { pointMs += ms; tr.foreach(pointTraces += _) }
        expect(res.map(r => Ver(r.getAs[Long]("height"), str(r, "value"))).toSeq,
          model.serving(t, pk).toSeq)
      }
    }

    // Fork-aware head reads: durable state plus the reversible overlay.
    (0 until HeadReads).foreach { _ =>
      val t = gen.tabletId(readRng.nextInt(shape.tablets))
      val headH = nw.last.num
      checked(s"head read $t@$headH") {
        var buildMs, execMs, ovMs = 0.0
        val (res, ms, tr) = timedOp("head_read") {
          val t0 = System.nanoTime()
          val overlay = pipeline.speculativeTabletRowsFor(None)
          val t1 = System.nanoTime()
          val df = store.readTabletAt(t, headH, overlay)
          val t2 = System.nanoTime()
          val rows = df.collect()
          val t3 = System.nanoTime()
          ovMs = (t1 - t0) / 1e6; buildMs = (t2 - t0) / 1e6; execMs = (t3 - t2) / 1e6
          rows
        }
        if (timed) {
          headMs += ms; headBuildMs += buildMs; headExecMs += execMs; overlayMs += ovMs
          tr.foreach(headTraces += _)
        }
        expect(tabletRows(res), model.tabletAt(t, headH, nw.map(_.tabletRows)))
      }
    }

    // Historical mix.
    (0 until shape.histPerIter).foreach { j =>
      val kind = shape.histKinds((k * shape.histPerIter + j) % shape.histKinds.size)
      historical(kind, (k + j) % 2, timed, h0, store)
    }
    tracer.foreach { t => t.end(iterSpan); t.clear() }
    System.err.println(f"perfbench: iteration $k commit=$cMs%.0f catchup=$uMs%.0f builds=$builds")
    true
  }

  private def str(r: Row, c: String): String = Generator.str(r.getAs[Array[Byte]](c))

  private def tabletRows(res: Array[Row]): Seq[(String, Ver)] =
    res.map(r => r.getAs[String]("primary_key") -> Ver(r.getAs[Long]("height"), str(r, "value"))).toSeq

  /** One historical read. `stratum` 0 reads at or below the bootstrap
    * snapshot height `h0`, stratum 1 above it: the two routes differ in
    * cost, so every run reads both in the same proportion. */
  private def historical(kind: String, stratum: Int, timed: Boolean, h0: Long,
      store: StateStore): Unit = {
    val cp = model.checkpoint
    val t = gen.tabletId(readRng.nextInt(shape.tablets))
    def pastHeight() = 1L + readRng.nextLong(cp)
    def stratumHeight(hi: Long) =
      if (stratum == 0) 1L + readRng.nextLong(math.min(h0, hi))
      else h0 + 1 + readRng.nextLong(math.max(1L, hi - h0))
    // Times one read of this kind; a read that throws leaves no sample.
    def read(body: => Array[Row]): Array[Row] = {
      val (res, ms, tr) = timedOp(kind)(body)
      if (timed) {
        histMs(kind) += ms
        tr.foreach(histTraces += _)
        histRowsReturned += res.length
      }
      res
    }
    kind match {
      case "tablet_at" =>
        val h = stratumHeight(cp)
        checked(s"tablet read $t@$h") {
          val res = read(store.readTabletAt(t, h).collect())
          expect(tabletRows(res), model.tabletAt(t, h))
        }
      case "row_at" =>
        // A key the tablet has: absent keys resolve at another cost, and
        // their share would otherwise differ from seed to seed.
        val written = model.keys(t)
        val pk = written(readRng.nextInt(written.size))
        val h = stratumHeight(cp)
        checked(s"row read $t/$pk@$h") {
          val res = read(store.readTabletRowAt(t, pk, h).collect())
          expect(tabletRows(res), model.rowAt(t, pk, h).map(pk -> _).toSeq)
        }
      case "asof_join" =>
        val probes = Seq.tabulate(shape.probes)(i => (i.toLong, t, gen.key(readRng.nextInt(shape.keysPerTablet)), pastHeight()))
        checked(s"as-of join $t") {
          val probeDf = probes.toDF("probe_id", "tablet_id", "primary_key", "at_height")
          val res = read(store.asOfJoin(t, probeDf).collect())
          expect(
            res.map(r => r.getAs[Long]("probe_id") ->
              (if (r.isNullAt(r.fieldIndex("height"))) None
               else Some(Ver(r.getAs[Long]("height"), str(r, "value"))))).toSeq,
            probes.map { case (id, _, pk, h) => id -> model.rowAt(t, pk, h) })
        }
      case "history" =>
        val s = gen.singletId(readRng.nextInt(shape.singlets))
        checked(s"singlet history $s") {
          val res = read(store.readSingletEntries(s).collect())
          expect(
            res.map(r => Ver(r.getAs[Long]("height"),
              if (r.getAs[Boolean]("is_deletion")) null else str(r, "value"))).toSeq,
            model.singletHistory(s))
        }
      case "diff" =>
        val from = stratumHeight(cp - 1)
        val to = math.min(cp, from + shape.diffWindow)
        checked(s"diff $t ($from, $to]") {
          val res = read(store.readTabletDiff(t, from, to).collect())
          expect(
            res.map(r => DiffRow(r.getAs[String]("primary_key"), r.getAs[String]("change_type"),
              r.getAs[Long]("change_height"), str(r, "old_value"), str(r, "new_value"))).toSeq,
            model.diff(t, from, to))
        }
    }
  }
}

object Stats {
  /** Median; 0 for no samples. */
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Reads per second over whole rounds of the mix: each kind weighted
    * equally by its mean time, so a run that stops part-way through a
    * round does not shift the mix. Equals reads ÷ total wall time when
    * every kind ran equally often. */
  def balancedRate(perKind: Seq[collection.Seq[Double]]): Double = {
    val kinds = perKind.filter(_.nonEmpty)
    if (kinds.isEmpty) 0.0 else kinds.size / kinds.map(ks => ks.sum / ks.size / 1e3).sum
  }

  def toJson(attempted: Long, failed: Long, correct: Boolean,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
