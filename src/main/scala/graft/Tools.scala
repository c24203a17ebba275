package graft

import org.apache.spark.sql.SparkSession
import graft.store.{Backfill, StateStore}
import graft.streaming.{BlockArchiveSource, IngestionPipeline}

/** Operational CLI — the Spark analogue of the reference app's modes
  * (app/fluxdb/app.go:38–41: inject / reproc-shard / reproc-inject; the
  * gRPC "server" mode has no analogue — the DataFrame API is the query
  * surface) plus its repair tools (reindex, prune, shard reconciliation).
  *
  * Usage: `sbt "runMain graft.Tools <command> <args...>"`
  *
  *   inject <root> <archiveDir> <ckptDir>     stream a block archive into the store
  *   shard <mutationsParquet|root> <out> <n>  reproc-shard: mutations → n shard files
  *   inject-shard <shardPath> <i> <root>      reproc-inject: replay shard i
  *   inject-dbin <segment> <i> <root> <widths> [startAfter]
  *                                            replay a reference-format
  *                                            .dbin[.zst] shard segment
  *                                            (widths: coll=len,coll=len)
  *   layout-report <root>                     dry-run: per-tablet read mix and
  *                                            the layout auto-compaction would pick
  *   backfill-sidecars <root>                 synthesize missing delta sidecars
  *                                            (one manifest fold) so legacy
  *                                            tables' changefeeds go linear
  *   shard-status <root> <n>                  per-shard progress report
  *   finalize-sharding <root> <n>             global checkpoint + drop shard markers
  *   reindex <root> [maxHeight] [lowerBound] [dryRun]
  *   reindex-tablet <root> <tablet>
  *   prune <root> <tablet> <frequency>        snapshot retention prune
  *   compact <root>                           fold per-batch dirs
  *   checkpoint <root>                        print the live global checkpoint
  *   read-tablet <root> <tablet> <height>     snapshot-aware as-of read
  *   table-generations <root>                 tablet-row table commit history
  *   head-check <root|tablePath> [--history]  fencing-metadata cross-check
  *                                            (pointer owner vs head sidecar)
  *                                            for a store root or one table;
  *                                            --history adds the forensic
  *                                            attribution audit over every
  *                                            generation's surviving objects
  *   read-tablet-at-gen <root> <gen> <tablet> <height>   time-travel as-of read
  *   diff <root> <tablet> <from> <to>         changefeed diff (added/updated/deleted)
  *   materialize <root> <target> <ckptDir>    catch the serving table up to the store
  *   curate <sfDir> <out>                     materialize the curated corpus + funnel
  */
object Tools {

  def run(args: Seq[String])(implicit spark: SparkSession): String = args.toList match {
    case "inject" :: root :: archive :: ckpt :: Nil =>
      val pipeline = new IngestionPipeline(new StateStore(root))
      val q = pipeline.start(BlockArchiveSource.readStream(spark, archive), ckpt)
      q.processAllAvailable()
      q.stop()
      run(Seq("checkpoint", root))
    case "shard" :: mutations :: out :: n :: Nil =>
      // A store root's mutations live in a manifest table, read through
      // the store; anything else is a plain parquet dataset.
      val storeRows = new org.apache.hadoop.fs.Path(s"$mutations/tablet_rows")
      val rows =
        if (storeRows.getFileSystem(spark.sessionState.newHadoopConf()).exists(storeRows))
          new StateStore(mutations).tabletRows
        else spark.read.parquet(mutations)
      Backfill.run(rows, out, n.toInt)
      s"sharded $mutations into $n shards at $out"
    case "inject-shard" :: shardPath :: i :: root :: Nil =>
      Backfill.injectShard(spark, shardPath, i.toInt, new StateStore(root))
      s"injected shard $i"
    case "inject-dbin" :: segment :: i :: root :: widths :: rest if rest.size <= 1 =>
      // widths: the embedder's collection→identifier-width registry,
      // e.g. "1=2,0xFFF1=2" (hex or decimal collection ids).
      val idLen = widths.split(',').map(_.trim).filter(_.nonEmpty).map { kv =>
        val Array(c, l) = kv.split('=')
        (java.lang.Integer.decode(c.trim).intValue, l.trim.toInt)
      }.toMap
      val n = Backfill.injectDbinSegment(spark, segment, i.toInt, new StateStore(root),
        idLen, rest.headOption.map(_.toLong).getOrElse(-1L))
      s"injected $n write requests from $segment as shard $i"
    case "layout-report" :: root :: Nil =>
      val rows = new StateStore(root).compactTabletRowsAutoReport()
      if (rows.isEmpty) "no observed tablets (no reads recorded yet)"
      else rows.map { case (t, p, s, d) =>
        s"$t: points=$p scans=$s -> $d" }.mkString("\n")
    case "backfill-sidecars" :: root :: Nil =>
      new StateStore(root).backfillDeltaSidecars()
        .map { case (t, (synth, present)) =>
          s"$t: synthesized $synth sidecar(s), $present already present" }
        .mkString("\n")
    case "shard-status" :: root :: n :: Nil =>
      new StateStore(root).verifyAllShardsWritten(n.toInt)
        .map { case (key, h, status) => s"$key height=${h.getOrElse("null")} $status" }
        .mkString("\n")
    case "finalize-sharding" :: root :: n :: Nil =>
      val cp = new StateStore(root).finalizeSharding(n.toInt)
      s"finalized at height ${cp.height} (block ${cp.blockId})"
    case "reindex" :: root :: rest =>
      val dry = rest.contains("dryRun")
      val pos = rest.filterNot(_ == "dryRun")
      val maxH = pos.headOption.map(_.toLong).getOrElse(Long.MaxValue)
      val lower = pos.drop(1).headOption.getOrElse("")
      val (tablets, entries) =
        new StateStore(root).reindexTablets(maxH, lower, dryRun = dry)
      s"${if (dry) "would reindex" else "reindexed"} $entries entries across $tablets tablets"
    case "reindex-tablet" :: root :: tablet :: Nil =>
      new StateStore(root).reindexTablet(tablet)
        .map(h => s"reindexed $tablet at height $h")
        .getOrElse("re-index not required")
    case "prune" :: root :: tablet :: freq :: Nil =>
      val kept = new StateStore(root).pruneTabletSnapshots(tablet, freq.toInt)
      s"kept snapshot heights ${kept.mkString(",")}"
    case "compact" :: root :: Nil =>
      val store = new StateStore(root)
      val t = store.compactTabletRows()
      val e = store.compactSingletEntries()
      s"compacted $t tablet-row and $e singlet-entry batch dirs"
    case "checkpoint" :: root :: Nil =>
      new StateStore(root).checkpoint(StateStore.GlobalCheckpointKey)
        .map(cp => s"checkpoint height=${cp.height} block=${cp.blockId}")
        .getOrElse("no checkpoint")
    case "read-tablet" :: root :: tablet :: height :: Nil =>
      // The server mode's flagship read (read.go:35–178), snapshot-aware.
      new StateStore(root).readTabletAt(tablet, height.toLong).collect()
        .map(r => s"${r.getString(0)} h=${r.getLong(1)} " +
          new String(r.getAs[Array[Byte]](2), "UTF-8"))
        .mkString("\n")
    case "table-generations" :: root :: Nil =>
      // The tablet-row table's commit history (one line per generation).
      val store = new StateStore(root)
      val mt = store.manifestTableFor(store.tabletRowsPath)
      mt.currentGeneration() match {
        case None => "empty table (no generation pointer)"
        case Some(g) =>
          (1L to g).map { gen =>
            val ids = mt.manifestEntries(gen).map(_._1)
            s"g$gen: ${ids.size} commits [${ids.mkString(", ")}]"
          }.mkString("\n")
      }
    case "head-check" :: root :: rest if rest.isEmpty || rest == List("--history") =>
      // The stale-clobber damage detector as a standalone verb: the
      // ingestion pipeline's periodic probe (graft.headCheck.intervalMs)
      // covers daemons; this covers batch deployments and cron. Accepts
      // a STORE root (cross-checks both manifest tables) or one bare
      // manifest-table path (e.g. a StateMaterializer serving target —
      // its `_gen` pointer sits directly under the path). Two small
      // metadata reads per table. A non-empty report means the store
      // admitted a write the conditional-create contract forbids (see
      // README store requirements): committed data may resolve to a
      // stale publisher's record — treat as an incident.
      //
      // `--history` additionally runs the FORENSIC attribution audit
      // (ManifestTable.auditHistory): verifyHead only sees the head, so
      // once the pointer moves past a damaged generation its attribution
      // follows the clobbered sidecar — the audit lists every generation
      // whose SURVIVING owned manifest objects disagree with their
      // recorded owner (`conflict:` = inspect by hand, `debris:` =
      // pre-sweep loser residue), turning post-incident forensics into
      // one verb instead of a by-hand object listing.
      val history = rest.nonEmpty
      val genAt = new org.apache.hadoop.fs.Path(s"$root/_gen")
      val isBareTable =
        genAt.getFileSystem(spark.sessionState.newHadoopConf()).exists(genAt)
      val (problems, audit) =
        if (isBareTable) {
          val t = graft.streaming.StateMaterializer.targetTable(root)
          (t.verifyHead().toSeq,
            if (history) t.auditHistory() else Seq.empty)
        } else {
          val s = new StateStore(root)
          (s.verifyHeads(), if (history) s.auditHistories() else Seq.empty)
        }
      val headLine =
        if (problems.isEmpty) "head check clean"
        else problems.mkString("HEAD CHECK FAILED:\n", "\n", "")
      if (!history) headLine
      else if (audit.isEmpty) s"$headLine\nhistory audit clean"
      else s"$headLine\nHISTORY AUDIT (${audit.size} finding(s)):\n" +
        audit.mkString("\n")
    case "read-tablet-at-gen" :: root :: gen :: tablet :: height :: Nil =>
      // TIME-TRAVEL as-of read: the flagship read over the mutation table
      // exactly as of manifest generation `gen` (readable while the
      // generation is inside the sweep retention window).
      val store = new StateStore(root)
      val rows = store.manifestTableFor(store.tabletRowsPath).readAt(gen.toLong)
      graft.read.TemporalReads.readTabletAt(rows, tablet, height.toLong).collect()
        .map(r => s"${r.getString(0)} h=${r.getLong(1)} " +
          new String(r.getAs[Array[Byte]](2), "UTF-8"))
        .mkString("\n")
    case "diff" :: root :: tablet :: from :: to :: Nil =>
      // The changefeed diff read: per-key added/updated/deleted between
      // two heights (the store's incremental plan).
      new StateStore(root).readTabletDiff(tablet, from.toLong, to.toLong).collect()
        .map { r =>
          def v(i: Int) = Option(r.getAs[Array[Byte]](i))
            .map(new String(_, "UTF-8")).getOrElse("-")
          s"${r.getString(0)} ${r.getString(1)} h=${r.getLong(2)} ${v(3)} -> ${v(4)}"
        }
        .mkString("\n")
    case "materialize" :: root :: target :: ckpt :: Nil =>
      // One catch-up pass of the serving-table materializer (changefeed →
      // copy-on-write merge); rerun to follow later commits — the same
      // checkpoint resumes exactly where it left off. A daemon deployment
      // calls StateMaterializer.start and keeps the query running.
      val q = graft.streaming.StateMaterializer.start(
        new StateStore(root), target, ckpt)
      q.processAllAvailable()
      q.stop()
      val n = graft.streaming.StateMaterializer.read(target)(spark).count()
      s"serving table at $target: $n live rows"
    case "curate" :: sfDir :: out :: Nil =>
      // Materialize the composed curation pass (quality → dedup → collapse
      // → decontaminate → resample; queries.CurationPipeline) for a corpus
      // directory, plus its funnel audit — both over ONE derivation of the
      // stage chain (curateWithFunnel shares the persisted survivor frames).
      val (curated, funnelDf) =
        graft.queries.CurationPipeline.curateWithFunnel(spark, sfDir)
      curated.write.mode("overwrite").parquet(s"$out/curated")
      val funnel = funnelDf.collect()
        .map(r => s"${r.getString(0)}: ${r.getLong(1)} docs, " +
          s"${if (r.isNullAt(2)) 0L else r.getLong(2)} tokens")
        .mkString("\n")
      // Both outputs are materialized — drop the chain's cached frames so
      // a long-lived session doesn't accumulate them per invocation.
      graft.queries.CurationPipeline.release(spark, sfDir)
      s"curated corpus written to $out/curated\n$funnel"
    case other =>
      throw new IllegalArgumentException(
        s"unknown command: ${other.mkString(" ")} (see Tools scaladoc)")
  }

  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(args.toSeq))
    spark.stop()
  }
}
