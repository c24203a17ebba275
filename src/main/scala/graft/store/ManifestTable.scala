package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Object-store-safe commit protocol for one table (the manifest-pointer
  * alternative to [[StateStore]]'s staged-rename protocol — reference
  * equivalent: the transactional KV batch, store/kv/store.go:332–467).
  *
  * S3-class stores have no atomic directory rename, so "stage then rename
  * into place" cannot be the visibility barrier. Here data files are
  * written ONCE under stable per-commit directories and never moved;
  * visibility comes from metadata:
  *
  *   1. `d-<commitId>-g<gen>/` — the commit's data files. Deterministic
  *      per (commitId, generation): a crash-replay rewrites the SAME
  *      directory in overwrite mode, so orphans self-clean on retry.
  *   2. `_manifests/m-<gen>.<nonce>.json` — the full committed file list
  *      as of generation `gen` (JSON lines, one per commit), written to
  *      the publishing ATTEMPT's own object and resolved through the
  *      generation sidecar's owner — attempts never share a manifest
  *      object, so a stale writer can neither clobber nor shadow a
  *      committed one ([[manifestPathOwned]]). Pre-r18 tables carry the
  *      unsuffixed `m-<gen>.json`, still read as a fallback.
  *   3. `_gen` — the generation POINTER. The swap of this one small file
  *      is the only "atomic" operation the protocol needs: a single-object
  *      PUT on an object store (here: tmp file + single-file rename, the
  *      local/HDFS equivalent).
  *
  * Readers resolve pointer → manifest → file list. A crash anywhere
  * before the pointer swap leaves only files no manifest references —
  * readers never observe a partial batch; no directory rename is ever
  * issued. Unreferenced attempt directories are swept opportunistically
  * by the next successful commit of the same commitId (overwrite) or by
  * [[sweepOrphans]].
  *
  * MANIFEST CHECKPOINTING (`checkpointInterval`): with the default 1 the
  * full manifest is rewritten every commit (the simplest protocol; cost
  * O(live files) per commit, collapsed periodically by [[replaceAll]]).
  * At N > 1 the full listing is written only every Nth generation (and
  * at every rewrite generation); the generations between carry ONLY
  * their delta sidecar — the Delta-Lake commit-log/_last_checkpoint
  * shape. A read of a delta-only generation reconstructs it from the
  * nearest full manifest at or below it plus the sidecars between
  * (≤ N−1 tiny reads), so per-commit metadata write cost is amortized
  * O(commit size) instead of O(live files) — the difference between
  * ~constant and linearly-growing commit latency at an ~86k-commits/day
  * appender between compactions. All three writers publish the delta
  * BEFORE the pointer swap, so crash-replay semantics are unchanged.
  *
  * MIN-READER GATE: every publish writes the `g5` owner-carrying frame.
  * A pre-fencing reader (whose parser knows only `g2`/`g3`) fails loudly
  * on the pointer instead of resolving a missing full manifest as an
  * empty table — the silent-empty failure would cascade (a rolled-back
  * binary serving empty reads; its sweepOrphans computing an empty live
  * set and deleting live data). Same shape as Delta's minReaderVersion
  * bump for new metadata layouts, carried in the pointer so gate and
  * generation publish atomically; legacy `g2`/`g3` frames and bare
  * numbers still parse on read.
  *
  * OPTIMISTIC CONCURRENCY: generation N's delta sidecar doubles as N's
  * mutual-exclusion token — every publisher exclusive-creates it
  * (`fs.create(path, overwrite = false)`: atomic on HDFS, a conditional
  * PUT on S3-class stores) BEFORE touching any shared metadata, so two
  * publishers computing next = gen+1 can never both win; the loser fails
  * LOUDLY and commit/merge retry from the new head while replaceAll
  * surfaces [[ManifestTable.ConcurrentPublishException]] (its input is
  * stale — [[replaceAllRetrying]] re-derives and retries, which is what
  * lets compaction run beside live writers with no serve pause). A
  * crashed attempt's sidecar is re-owned by its own commitId's replay,
  * or taken over by any publisher after
  * [[ManifestTable.publishLeaseMillis]]; the pointer swap re-verifies
  * ownership (fencing) so a paused-then-woken owner aborts instead of
  * regressing the pointer.
  *
  * FENCING TOKEN: every own attempt carries a fresh NONCE, written into
  * the sidecar (`"owner":"<nonce>"`) and into the pointer frame itself
  * (`g5:<gen>:<nonce>:<gen>;`). Ownership is the NONCE, not the
  * commitId: a takeover (foreign after the lease, or a sibling replay of
  * the same commitId) rewrites the sidecar with ITS nonce, so the
  * previous holder — even one paused past the lease that wakes mid-tail
  * — is rejected by CONTENT at its next [[publishOwned]]: the sidecar no
  * longer carries its nonce, so its swap never happens and it retries
  * from the new head instead of clobbering the winner. [[publishOwned]]
  * also re-reads the sidecar AFTER its swap: when the pointer frame
  * proves the swap was this attempt's, a sidecar clobbered in the
  * check-to-swap instant is REPAIRED in place from the record in hand;
  * when the pointer names someone else, the publish reports a loud
  * conflict (the caller re-lands at the next generation) rather than a
  * silent success over someone else's metadata.
  *
  * What remains exposed, stated honestly: the write instant itself —
  * on stores WITHOUT a conditional-replace primitive. There, a waker
  * that slept through the entire lease can still land ONE blind
  * overwrite (its sidecar or manifest write, `overwrite = true`) in the
  * microsecond between its own ownership re-check and that write. If
  * the takeover winner has not yet published, the nonce checks resolve
  * it loudly (one side retries, nothing lost). If the winner HAS
  * published — its whole takeover tail fit inside the waker's
  * check-to-write instant — the waker's overwrite damages the published
  * generation's metadata before any check can fire: a clobbered sidecar
  * is detected by [[verifyHead]] (and repaired when the pointer's owner
  * republishes); a clobbered full manifest can silently drop the
  * winner's rows from the head. That interleaving requires a
  * µs-precision wake after a ≥10-minute sleep —
  * [[ManifestTable.publishLeaseMillis]] is the real mitigation there
  * (size it above any plausible pause). On a store whose FileSystem
  * implements [[ConditionalWriteSupport]] (If-Match / ETag / generation
  * preconditions) the family is CLOSED outright: every contended
  * sidecar replacement — takeover, same-commit re-own, and both
  * reserve-first publish tails — is a compare-and-swap against the
  * exact bytes the replacer's ownership judgment read, so the late
  * write is refused AT the store (ObjectStoreProtocolSpec pins it).
  * That matches the transactional guarantee the reference's KV backend
  * provides (store/kv/store.go:332–467).
  */
final class ManifestTable(val tablePath: String, schema: StructType,
    partitionCol: Option[String] = None,
    statsCols: Seq[String] = Nil,
    val checkpointInterval: Int = 1)(
    implicit spark: SparkSession) {
  import ManifestTable._

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  require(checkpointInterval >= 1,
    s"checkpointInterval must be >= 1, got $checkpointInterval")
  statsCols.foreach { c =>
    require(partitionCol.forall(_ != c),
      s"stats column $c is the partition column — its value lives in the " +
        "directory name, not the file; partition pruning already serves it")
    val f = schema.fields.find(_.name == c).getOrElse(
      sys.error(s"stats column $c not in schema"))
    require(
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.StringType,
      s"stats column $c: only long/int/string bounds are collected")
  }

  private val genPointerPath = s"$tablePath/_gen"
  private val manifestDir = s"$tablePath/_manifests"

  private def fsOf(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  /** The store's conditional-replace capability, when its FileSystem
    * advertises one ([[ConditionalWriteSupport]]; see the README "Store
    * requirements" table for which store classes can). */
  private def conditionalOf(fs: FileSystem): Option[ConditionalWriteSupport] =
    fs match {
      case c: ConditionalWriteSupport => Some(c)
      case _ => None
    }

  /** Test hook: simulate a crash after the data write, before publish. */
  private[graft] var failBeforePublish: Boolean = false

  /** Test hook: runs after the data write, immediately before this
    * instance tries to OWN its target generation — the window a
    * concurrent publisher races in. Lets specs interleave two publishers
    * deterministically. */
  private[graft] var beforeOwnHook: () => Unit = () => ()

  /** Test hook: simulate a crash AFTER owning the generation (sidecar
    * created) but before any further metadata write — the window whose
    * orphan sidecar the lease/takeover logic exists for. */
  private[graft] var failAfterOwn: Boolean = false

  /** Test hook: runs after every metadata write of the owned tail,
    * immediately before the pointer swap ([[publishOwned]]) — the
    * paused-owner window the fencing nonce closes: a takeover winning
    * here must fence this publisher's swap by content. */
  private[graft] var beforePublishHook: () => Unit = () => ()

  /** Test hook: runs immediately after OWNING the generation (sidecar
    * created, nothing else written) — the paused-past-the-lease window
    * between own and the owned tail's first shared metadata touch, where
    * a takeover may already have PUBLISHED this generation. */
  private[graft] var afterOwnHook: () => Unit = () => ()

  /** Test hook: runs immediately AFTER the pointer swap, before the
    * post-swap sidecar re-read — the check-to-swap instant's other half,
    * where a fenced publisher's clobber lands after our swap and the
    * repair path must restore the published record. */
  private[graft] var afterSwapHook: () => Unit = () => ()

  /** Test hook: runs immediately before a full-manifest write — the
    * paused-past-the-lease window between the `stillOwns` re-check and
    * the manifest object landing, where a takeover may have published
    * this generation already. Owner-suffixed manifest objects make a
    * stale write here an ignored orphan instead of a shadow/clobber
    * ([[manifestPathOwned]]); this hook lets specs pin exactly that. */
  private[graft] var beforeManifestWriteHook: () => Unit = () => ()

  /** Test hook: runs inside an ESCALATED merge's reservation,
    * immediately before its derivation — lets specs stretch the
    * derivation past the short escalation lease to pin that the
    * heartbeat (not luck) keeps a live derivation owned. */
  private[graft] var duringEscalatedDeriveHook: () => Unit = () => ()

  /** Test hook: runs inside an ESCALATED merge's reservation, after the
    * derivation returns but before the publish tail (stillOwns →
    * writeDelta → manifest → pointer) — lets specs stretch the TAIL past
    * the short escalation lease to pin that the heartbeat stays armed
    * through the tail's shared writes, not just the derivation. */
  private[graft] var beforeEscalatedTailHook: () => Unit = () => ()

  /** Test hook: runs in the escalated tail AFTER the stillOwns check
    * passes, immediately before the placeholder→record sidecar swap —
    * the exact check-to-write instant of the residual mtime-lease
    * TOCTOU. Specs interleave a legal takeover here to pin that a
    * conditional-write store refuses the late swap (no damage) while a
    * plain store's damage stays loud. */
  private[graft] var beforeEscalatedSwapHook: () => Unit = () => ()

  /** Test hook: runs inside a lease takeover AFTER its published-state
    * re-check, immediately before the sidecar overwrite — the takeover
    * side of the same check-to-write window. */
  private[graft] var beforeTakeoverWriteHook: () => Unit = () => ()

  /** Test switch: while true, the escalation heartbeat thread SKIPS its
    * marker writes — deterministically simulating a frozen holder
    * (missed beats) without relying on scheduler timing. */
  @volatile private[graft] var pauseEscalationHeartbeat: Boolean = false

  private def maybeFailAfterOwn(commitId: String): Unit =
    if (failAfterOwn) throw new IllegalStateException(
      s"injected crash after owning the generation for $commitId")

  /** Single-writer entry cache: the last published (generation, entries)
    * this INSTANCE wrote. With checkpointInterval > 1 every commit would
    * otherwise re-read O(live files) of metadata (nearest checkpoint +
    * sidecars) just for its idempotency check; the documented
    * single-writer discipline makes the writer's own last publish
    * authoritative. Validated against the pointer before use (a fresh
    * instance, or a reader-only instance, just reads). */
  @volatile private var entriesCache: Option[(Long, Seq[ManifestEntry])] = None

  /** Publish-contention observability (per instance): lost generation
    * races retried by commit/merge/replaceAllRetrying, lease takeovers
    * performed BY this instance, and publishes rejected by the fencing
    * nonce. A rising conflict rate is the early-warning signal for an
    * undersized lease or a hot table. */
  val lostRaceCount = new java.util.concurrent.atomic.AtomicLong(0L)
  val leaseTakeoverCount = new java.util.concurrent.atomic.AtomicLong(0L)
  val fencedPublishCount = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Merge attempts re-stamped onto a new head WITHOUT re-deriving
    * ([[rebaseStagedMerge]]): each one is a whole merge derivation
    * (scan + argmax + write) that a lost race did NOT cost. */
  val rebasedMergeCount = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Merge recomputes that ran under a loss-escalation RESERVATION
    * (see [[merge]]): the starvation-proofing path. A rising rate says
    * a racing rewriter (usually a compactor) keeps invalidating merges
    * past rebasing — at a cadence near the merge derivation time that
    * is the recompute-spiral regime this path exists to bound. */
  val escalatedMergeCount = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Reservation-heartbeat refreshes written by an escalated merge's
    * derivation (see [[merge]]): each one re-arms the SHORT escalation
    * lease, so a live derivation of any length is never taken over (the
    * marker stays armed through the publish tail, reclaimed only after
    * the pointer swap) while a crashed one stalls foreign publishers
    * only for [[ManifestTable.escalationLeaseMillis]] instead of the
    * full publish lease. */
  val reservationHeartbeatCount = new java.util.concurrent.atomic.AtomicLong(0L)

  // Min-reader gate: every publish writes the g5 owner-carrying frame,
  // which pre-fencing readers (g2/g3-only parsers) reject loudly — the
  // same posture the g3 frame took for the delta-only layout, now
  // subsumed: a g5-aware reader is sidecar- and owned-manifest-aware by
  // construction. Legacy
  // g2/g3 frames and bare-number pointers still parse on read.

  private def cachedEntriesAt(gen: Long): Seq[ManifestEntry] =
    entriesCache match {
      case Some((g, e)) if g == gen => e
      case _ => manifestEntriesFull(gen)
    }

  // -------------------------------------------------------------- pointer

  /** Current generation, or None for an empty table.
    *
    * Bounded retry on an unparseable read: the pointer swap is an atomic
    * object PUT on the documented S3-class/POSIX targets, but a store
    * whose "rename" STREAMS bytes into place (NFS-class mounts, naive
    * shims) can expose a partially-written pointer for a moment — found
    * by the object-store spec's async changefeed poll racing a pointer
    * swap. A transient torn read retries briefly; persistent garbage
    * still fails loudly instead of reading as an empty table. */
  def currentGeneration(): Option[Long] = pointerFrame().map(_._1)

  /** THE pointer read: (generation, owner) with bounded torn-read retry —
    * the ONE parse all pointer consumers share ([[currentGeneration]],
    * [[publishOwned]]'s arbitration, [[verifyHead]]), so retry and
    * refusal discipline cannot drift between them. Owner is None on
    * legacy frames (g2/g3/bare number) and present on g4/g5; unreadable
    * after retries fails LOUDLY — a torn read must never feed a lenient
    * branch (e.g. a stale publisher reading its way into false
    * success). */
  private def pointerFrame(): Option[(Long, Option[String])] = {
    val (fs, p) = fsOf(genPointerPath)
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      // The exists→open gap can race a concurrent pointer swap on
      // filesystems whose rename path transiently removes the target
      // (the delete+retry fallback; checksum-file shuffling on local
      // mounts) — an async changefeed poll hits this window in practice.
      // Treat a vanished-then-absent pointer as the empty table it is;
      // retry the transient cases.
      val openable =
        try Some(fs.open(p))
        catch { case _: java.io.FileNotFoundException => None }
      openable match {
        case None =>
          if (attempt >= 3) return if (fs.exists(p)) sys.error(
            s"generation pointer $genPointerPath unreadable but present") else None
          attempt += 1
          Thread.sleep(10L << attempt)
        case Some(in) =>
          // A checksummed file system (Hadoop's default local one) swaps
          // the pointer and its `.crc` in two renames; a read between them
          // fails its checksum. That is a torn read like any other: the
          // empty text takes the bounded retry below.
          val text =
            try new String(
              org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
            catch { case _: org.apache.hadoop.fs.ChecksumException => "" }
            finally in.close()
          // SELF-VALIDATING frame: `g2:<n>:<n>;` — the terminator proves
          // the read saw the whole object and the doubled value proves it
          // saw it consistently. A torn read of a framed pointer can
          // never parse (missing terminator / mismatched halves), where a
          // torn BARE number could yield a valid numeric PREFIX — a
          // silently REGRESSED generation, which would make the
          // changefeed re-emit already-delivered commits. Bare numbers
          // are still accepted for pointers written before the frame
          // (legacy stores; atomic-PUT targets never tear either way).
          text match {
            case FramedGenRe(_, a, b) if a == b =>
              return Some((a.toLong, None))
            case FramedOwnerRe(_, a, o, b) if a == b =>
              return Some((a.toLong, Some(o)))
            case NewerFrameRe(v, a, b) if a == b && v.toLong > 5 =>
              // Structurally valid, higher version: this binary predates
              // the table's layout. Refuse with the real reason — never
              // read a newer table as empty/partial.
              sys.error(s"table $tablePath uses pointer-frame version g$v, " +
                "newer than this reader supports (g5) — upgrade the reader")
            case NewerFrame4Re(v, a, b) if a == b && v.toLong > 5 =>
              // Same refusal for higher-versioned OWNER-carrying frames.
              sys.error(s"table $tablePath uses pointer-frame version g$v, " +
                "newer than this reader supports (g5) — upgrade the reader")
            case _ if text.nonEmpty && text.forall(_.isDigit) =>
              return Some((text.toLong, None))
            case _ if attempt < 3 =>
              attempt += 1
              Thread.sleep(10L << attempt)
            case _ =>
              sys.error(s"generation pointer $genPointerPath is corrupt: '$text'")
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Swap the generation pointer. One SMALL single file: on an object
    * store this is one atomic PUT; locally/HDFS a tmp + single-FILE
    * rename (file renames need no directory atomicity).
    *
    * The swap must NOT delete the live pointer first: a crash between
    * that delete and the rename would leave readers with no pointer at
    * all — an empty table, worse than stale (found by
    * ObjectStoreProtocolSpec's fail-before-copy injection). POSIX rename
    * overwrites atomically and an object-store "rename" is a PUT-copy
    * that overwrites too, so the overwrite path is the normal one; the
    * delete+retry fallback only serves filesystems whose rename refuses
    * existing destinations — and on THOSE (e.g. strict HDFS rename
    * semantics, where every swap after generation 1 takes the fallback)
    * the delete→rename pair reopens a residual no-pointer window. That
    * is accepted for the S3-class/POSIX targets this protocol is
    * documented for; an HDFS deployment wanting atomic overwrite should
    * swap via `FileContext.rename(..., Options.Rename.OVERWRITE)`
    * instead. */
  private def publish(gen: Long, owner: String): Unit = {
    val (fs, p) = fsOf(genPointerPath)
    // The staging object is UNIQUE PER ATTEMPT (the owner nonce is in
    // the name): concurrent publishers at the same or adjacent
    // generations never share a tmp, so an interleaved create/write/
    // rename can never install another attempt's frame under this one's
    // rename — the exact check-to-swap window the fencing protocol
    // models. A shared `.tmp` was the one staging object two live
    // publishers could both touch.
    val tmp = new Path(s"$genPointerPath.$owner.tmp")
    val out = fs.create(tmp, true)
    // Framed form (see currentGeneration): torn-read-proof on stores
    // whose rename streams bytes into place. The g5 frame carries the
    // publishing attempt's fencing nonce, so the pointer's CONTENT
    // names who swapped it: head sidecar and pointer are
    // cross-checkable ([[verifyHead]]), and the frame bump gates out
    // pre-fencing readers loudly (the Delta minReaderVersion posture —
    // same vehicle the g3 delta-only gate used).
    try out.write(s"g5:$gen:$owner:$gen;".getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      // Rename-refuses-existing-destination filesystems only (see the
      // class doc above): the delete→rename pair reopens a residual
      // no-pointer window, so the second rename failing must not leave
      // the table headless AND an orphan tmp behind — surface loudly
      // with the tmp cleaned up (the caller's retry re-stages).
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        try fs.delete(tmp, false) catch {
          case scala.util.control.NonFatal(_) => () }
        sys.error(s"pointer swap failed for $tablePath")
      }
    }
  }

  /** Cross-check the published head's fencing metadata: the pointer
    * frame's owner nonce vs the head generation's sidecar owner. `None`
    * = consistent (or not checkable: legacy frames/sidecars without
    * owners, empty table); `Some(problem)` = the head generation's
    * sidecar was overwritten AFTER its publish — the paused-writer
    * clobber the fencing protocol exists to surface. Costs two small
    * reads; diagnostics/soak surface, not a hot-path gate. */
  def verifyHead(): Option[String] =
    pointerFrame() match {
      case Some((gen, Some(owner))) =>
        val sidecarOwner =
          try deltaRecord(gen).flatMap(_.owner)
          catch { case scala.util.control.NonFatal(_) => None }
        sidecarOwner match {
          case Some(o) if o != owner => Some(
            s"head generation $gen of $tablePath: pointer was swapped by " +
              s"owner $owner but the sidecar now carries $o — the sidecar " +
              "was overwritten after publish (stale-writer clobber)")
          case _ => None // consistent, or legacy sidecar without an owner
        }
      case _ => None // legacy frame or empty table: no owner to check
    }

  /** FORENSIC history audit (the `head-check --history` verb):
    * generations at or below the head whose SURVIVING owned manifest
    * objects disagree with the generation's recorded owner.
    * [[verifyHead]] detects a sidecar clobber while the damaged
    * generation IS the head; once the head moves on, attribution follows
    * the lying sidecar and the real winner's manifest survives only as
    * an on-disk object under a different nonce (the documented
    * TOCTOU-store degradation) — this walk makes that post-hoc evidence
    * mechanical to find instead of a by-hand listing. Lines are
    * severity-prefixed:
    *
    *   - `conflict:` — the recorded owner has no manifest object of its
    *     own (delta-only or lost) while attempt manifests from OTHER
    *     nonces survive, or a no-owner-evidence generation is ambiguous
    *     (2+ candidates, or a candidate shadowing a pre-fencing
    *     delta-only winner). Inspect the surviving objects by hand.
    *   - `debris:` — not-yet-swept loser attempts beside an intact
    *     authoritative object: routine contention residue, the age-gated
    *     sweep's job.
    *   - `unreadable:` — the generation's sidecar did not parse; no
    *     judgment possible.
    *
    * One directory listing plus one sidecar read per generation that has
    * owned objects — diagnostics cost, not a hot-path gate. Empty =
    * nothing to report. */
  def auditHistory(): Seq[String] = {
    val (fs, d) = fsOf(manifestDir)
    if (!fs.exists(d)) return Seq.empty
    val frame = pointerFrame()
    val head = frame.map(_._1).getOrElse(0L)
    val names = fs.listStatus(d).map(_.getPath.getName).toSeq
    val ownedByGen: Map[Long, Seq[String]] = names.flatMap {
      case ManifestTable.OwnedManifestNameRe(g, o) => Some(g.toLong -> o)
      case _ => None
    }.groupBy(_._1).map { case (g, ps) => g -> ps.map(_._2) }
    val legacyGens: Set[Long] = names.collect {
      case ManifestTable.LegacyManifestNameRe(g) => g.toLong
    }.toSet
    ownedByGen.toSeq.sortBy(_._1).flatMap { case (gen, nonces) =>
      if (gen > head) Seq.empty // unpublished attempts: the sweep's domain
      else {
        // ONE sidecar read per audited generation, feeding both the
        // owner arbitration and the shadow judgment.
        val recordTry =
          try Right(deltaRecord(gen))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        recordTry match {
          case Left(e) => Seq(s"unreadable: generation $gen of $tablePath " +
            s"has ${nonces.size} owned manifest object(s) but its sidecar " +
            s"did not parse (${e.getMessage}) — no attribution judgment " +
            "possible")
          case Right(record) =>
            val owners = ownersFrom(gen, frame, record)
            if (owners.nonEmpty) {
              val foreign = nonces.filterNot(owners.contains)
              if (foreign.isEmpty) Seq.empty
              else if (owners.exists(nonces.contains) || legacyGens.contains(gen))
                Seq(s"debris: generation $gen of $tablePath carries " +
                  s"${foreign.size} not-yet-swept loser attempt manifest(s) " +
                  s"(${foreign.mkString(", ")}); the authoritative object is " +
                  "intact")
              else
                Seq(s"conflict: generation $gen of $tablePath resolves via " +
                  s"owner ${owners.mkString("/")} which has NO manifest " +
                  "object of its own (delta-only winner, or lost), while " +
                  s"attempt manifest(s) from ${foreign.mkString(", ")} " +
                  "survive — if this generation was ever head-check damaged, " +
                  "the surviving object may be the real winner's evidence")
            } else {
              // No owner evidence at all. A single candidate beside NO
              // sidecar is the sanctioned lost-metadata repair fallback —
              // clean. A candidate beside an ownerless NON-rewrite sidecar
              // is the suppressed mixed-fleet shadow; 2+ candidates are
              // ambiguous either way.
              if (nonces.size >= 2)
                Seq(s"conflict: generation $gen of $tablePath has " +
                  s"${nonces.size} attempt manifests (${nonces.mkString(", ")}) " +
                  "and no owner evidence — ambiguous, resolution refuses")
              else if (record.exists(!_.rewrite))
                Seq(s"conflict: generation $gen of $tablePath has an attempt " +
                  s"manifest (${nonces.head}) shadowing an ownerless " +
                  "delta-only sidecar (pre-fencing winner) — resolution " +
                  "suppresses it; the object is a fenced loser's")
              else Seq.empty
            }
        }
      }
    }
  }

  // ------------------------------------------------------------- manifest

  private def manifestPath(gen: Long): String = f"$manifestDir/m-$gen%09d.json"

  /** The ATTEMPT-UNIQUE full-manifest object (r18). The unsuffixed
    * legacy path was the ONE shared metadata object without content
    * arbitration: the sidecar has [[verifyHead]]'s owner cross-check and
    * the pointer has the nonce frame, but a publisher paused past the
    * lease between its `stillOwns` re-check and its manifest write could
    * land (or overwrite) `m-<gen>.json` AFTER the takeover winner
    * published — and full-manifest-wins resolution would then SILENTLY
    * shadow the winner's committed generation (wrong reads, and the
    * sweep computing liveness from the stale file set — data loss).
    * Suffixing the owner nonce makes the write target attempt-unique, so
    * no interleaving can clobber or shadow another attempt's manifest;
    * which object is authoritative is decided by CONTENT
    * ([[resolvedManifestPath]]): the generation sidecar's owner. */
  private def manifestPathOwned(gen: Long, owner: String): String =
    f"$manifestDir/m-$gen%09d.$owner.json"

  /** The generation's AUTHORITATIVE full-manifest object, or None when
    * the generation is delta-only (or doesn't exist). Resolution order:
    *
    *   1. sidecar names an owner → that owner's suffixed object
    *      (`m-<gen>.<owner>.json`). A fenced loser's manifest is a dead
    *      orphan OBJECT under a different name — never consulted, never
    *      a shadow; [[sweepOrphans]] collects it once aged.
    *   2. owner's suffixed object absent (or no owner recorded) → the
    *      legacy unsuffixed path, for tables written before the suffix
    *      (whose pointer still reads g4/g3/g2). Among PRE-r18 writers
    *      the shadow window remains what it was — closed by upgrading
    *      writers, per README's rolling-upgrade order.
    *
    * When `gen` is the HEAD, the POINTER's owner outranks the sidecar's:
    * the pointer is the one object a stale writer cannot fake without
    * winning the swap, so under a post-publish sidecar clobber (the
    * TOCTOU class [[verifyHead]] detects) resolution still follows the
    * real winner's manifest instead of the clobberer's.
    *
    * Sidecar read faults PROPAGATE: an unreadable sidecar must not
    * authorize the lenient legacy branch (the round-17 torn-pointer
    * lesson — a failed read never feeds a lenient fallback). */
  private def resolvedManifestPath(gen: Long): Option[Path] =
    resolvedManifestPath(gen, pointerFrame())

  /** Committed-history resolution cache: generation → authoritative
    * manifest path (None = delta-only), for generations STRICTLY BELOW
    * the published head at resolution time. Safe because committed
    * history is immutable in exactly the ways resolution consults:
    * manifest objects are only ever written for a generation while it is
    * UNPUBLISHED (every `writeManifest` caller targets head+1), the
    * sweep deletes only non-authoritative objects, and a post-publish
    * sidecar clobber cannot move a resolution that already happened
    * (the cache preserving the PRE-clobber answer is the correct one —
    * the same arbitration [[publishOwned]]'s repair enforces at the
    * head). What this buys: the delta-reconstruction walk and repeated
    * reads stop paying ~3 metadata round trips (pointer + sidecar +
    * exists) per historical generation per call — the exact steady-path
    * LIST/read amplification the round-18 verdict flagged on the
    * serving-table merge loop.
    *
    * Staleness: committed-history immutability has one documented crack —
    * after a post-publish sidecar clobber (the TOCTOU damage class), a
    * sweep reading the CLOBBERED sidecar's owner can reclaim the object a
    * pre-clobber resolution cached. A consumer hitting FileNotFound on a
    * cached path therefore invalidates the entry and re-resolves ONCE
    * ([[manifestEntriesFull]]) — fresh resolution either finds the
    * arbitration's current answer or raises the loud missing-metadata
    * diagnosis, never a raw FNF from a stale pointer. Eviction is
    * APPROXIMATE (drop an arbitrary eighth when over the cap), not a
    * wholesale clear and not exact LRU: a long history walk must not
    * flush the hot head region it just warmed, but exact recency isn't
    * load-bearing for a pure cache and an access-ordered map would put
    * a global lock + list mutation on every HIT — this keeps gets
    * lock-free on the hot resolution path. */
  private val resolvedPathCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[Path]]()

  private def resolvedManifestPath(gen: Long,
      frame: Option[(Long, Option[String])]): Option[Path] = {
    val headGen = frame.map(_._1).getOrElse(0L)
    val cacheable = gen < headGen
    if (cacheable) {
      val hit = resolvedPathCache.get(gen)
      if (hit != null) return hit
    }
    // ONE sidecar read per resolution: the record feeds both the owner
    // arbitration and the fallback's rewrite judgment below (a second
    // deltaRecord there was an extra billed GET per uncached no-owner
    // resolution). Read faults propagate, per the method contract.
    val record = deltaRecord(gen)
    val owners = ownersFrom(gen, frame, record)
    val resolved = (owners.map(o => fsOf(manifestPathOwned(gen, o))) ++
      Seq(fsOf(manifestPath(gen))))
      .collectFirst { case (fs, p) if fs.exists(p) => p }
      .orElse {
        // NO owner evidence at all (no owner frame at the pointer, no —
        // or a pre-owner — sidecar): a damaged-or-stripped-metadata
        // context, not a contended one. If exactly ONE owned manifest
        // object exists for the generation it is unambiguous — use it
        // (e.g. a table whose sidecars were lost but whose manifests
        // survive). With owner evidence present this fallback must NOT
        // run: in the shadow interleaving the only object at the
        // generation is the fenced loser's, and the sidecar naming the
        // delta-only winner is exactly what proves it dead. The same
        // interleaving exists in a MIXED-VERSION fleet with the owner
        // evidence one notch weaker: a PRE-fencing winner's sidecar is
        // OWNERLESS, and the only suffixed object at the generation is a
        // post-upgrade loser's uncommitted listing — so for a PUBLISHED
        // generation an ownerless sidecar recording a NON-rewrite
        // suppresses the fallback too (the winner was genuinely
        // delta-only; its sidecar reconstructs the generation without
        // any manifest). An ownerless REWRITE sidecar keeps the fallback
        // open: rewrite generations always wrote a full manifest, so the
        // sidecar proves one existed and the single surviving suffixed
        // object is its only candidate — exactly the lost/backfilled-
        // sidecar repair case ([[backfillDeltaSidecars]] synthesizes
        // ownerless sidecars beside r18 suffixed manifests). Ambiguous
        // (2+) candidates stay unresolved — the loud missing-metadata
        // path beats guessing between attempts. Sidecar read faults
        // propagate, per the method contract.
        if (owners.nonEmpty) None
        else if (gen <= headGen && record.exists(!_.rewrite)) None
        else {
          val (fs, d) = fsOf(manifestDir)
          if (!fs.exists(d)) None
          else {
            val prefix = f"m-$gen%09d."
            val candidates = fs.listStatus(d).map(_.getPath).filter { p =>
              val n = p.getName
              n.startsWith(prefix) && n.endsWith(".json") &&
                n != f"m-$gen%09d.json"
            }
            if (candidates.length == 1) Some(candidates.head) else None
          }
        }
      }
    if (cacheable) {
      if (resolvedPathCache.size() > 8192) {
        val it = resolvedPathCache.keySet().iterator()
        var n = 1024
        while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1 }
      }
      resolvedPathCache.put(gen, resolved)
    }
    resolved
  }

  /** Owners whose manifest object for `gen` may be trusted, strongest
    * arbiter first: the pointer's owner when `gen` is the published
    * head, then the generation sidecar's owner. Distinct single source
    * for read-side resolution and the sweep's deadness judgment — a
    * drifted copy would let the sweep reclaim what a reader trusts. */
  private def authoritativeOwners(gen: Long): Seq[String] =
    authoritativeOwners(gen, pointerFrame())

  /** [[authoritativeOwners]] against an already-read pointer `frame`, so
    * multi-generation walks (delta reconstruction, the sweep) read the
    * pointer ONCE instead of once per probed generation. */
  private def authoritativeOwners(gen: Long,
      frame: Option[(Long, Option[String])]): Seq[String] =
    ownersFrom(gen, frame, deltaRecord(gen))

  /** The one owners derivation, against an already-read frame AND
    * sidecar record — callers that hold the record (resolution) avoid a
    * second sidecar fetch without risking drift from the arbiter. */
  private def ownersFrom(gen: Long, frame: Option[(Long, Option[String])],
      record: Option[ManifestTable.DeltaRecord]): Seq[String] = {
    val fromPointer = frame match {
      case Some((g, owner)) if g == gen => owner
      case _ => None
    }
    (fromPointer.toSeq ++ record.flatMap(_.owner).toSeq).distinct
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Committed (commitId, relative file paths), in commit order. */
  private[graft] def manifestEntries(gen: Long): Seq[(String, Seq[String])] =
    manifestEntriesFull(gen).map(e => (e.commitId, e.files))

  /** [[manifestEntries]] plus each file's column bounds (empty map when the
    * committing writer collected no stats — older manifests, or a
    * statsCols-less instance; such files are never pruned). */
  private[graft] def manifestEntriesFull(gen: Long): Seq[ManifestEntry] =
    manifestEntriesFull(gen, pointerFrame())

  /** [[manifestEntriesFull]] against an already-read pointer `frame`:
    * the public entry reads the pointer ONCE and the whole
    * reconstruction walk (base probe + recursion) reuses it — one
    * metadata read per call instead of one per probed generation.
    *
    * A FileNotFound under a CACHED resolution retries once with the
    * entry invalidated: the one way committed-history resolution goes
    * stale is a sweep (fed by a post-publish sidecar clobber) reclaiming
    * an object after we cached its path — fresh resolution then returns
    * the arbitration's current answer or the loud missing-metadata
    * diagnosis, never a raw FNF from the stale pointer. */
  private def manifestEntriesFull(gen: Long,
      frame: Option[(Long, Option[String])]): Seq[ManifestEntry] =
    try manifestEntriesFullOnce(gen, frame)
    catch {
      case e: java.io.FileNotFoundException
          if resolvedPathCache.remove(gen) != null =>
        log.warn(s"cached manifest resolution for generation $gen of " +
          s"$tablePath went stale (${e.getMessage}) — re-resolving once")
        manifestEntriesFullOnce(gen, frame)
    }

  private def manifestEntriesFullOnce(gen: Long,
      frame: Option[(Long, Option[String])]): Seq[ManifestEntry] = {
    if (gen <= 0) return Seq.empty
    val resolved = resolvedManifestPath(gen, frame)
    if (resolved.isDefined) {
      val p = resolved.get
      val fs = fsOf(tablePath)._1
      val in = fs.open(p)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      text.linesIterator.filter(_.nonEmpty).map(parseManifestLine).toSeq
    } else {
      // Delta-only generation (checkpointInterval > 1): reconstruct from
      // the nearest FULL manifest at or below it plus the delta sidecars
      // between — appends only, by construction: every rewrite generation
      // (replaceAll/merge) writes a full manifest, so the walk can never
      // cross one. Bounded by the interval; a missing sidecar ANYWHERE a
      // published generation needs one is loud corruption, not silence —
      // a silent empty here would hand sweepOrphans an empty live set
      // (it would then delete every data directory) and make the
      // changefeed's fallback fold re-emit a whole checkpoint generation
      // as fresh rows.
      if (deltaEntryFull(gen).isEmpty) {
        if (gen <= frame.map(_._1).getOrElse(0L))
          throw new IllegalStateException(
            s"generation $gen of $tablePath is published but has neither a " +
              "full manifest nor a delta sidecar — metadata directory damaged")
        Seq.empty // beyond the pointer: the generation simply doesn't exist
      }
      else {
        var base = gen - 1
        while (base > 0 && resolvedManifestPath(base, frame).isEmpty) base -= 1
        val start: Seq[ManifestEntry] =
          if (base == 0) Seq.empty else manifestEntriesFull(base, frame)
        (base + 1 to gen).foldLeft(start) { (acc, h) =>
          deltaEntryFull(h) match {
            case Some((entry, rewrite)) =>
              require(!rewrite,
                s"delta-only generation $h of $tablePath claims a rewrite — " +
                  "rewrite generations must carry a full manifest (corrupt table)")
              acc :+ entry
            case None => throw new IllegalStateException(
              s"cannot reconstruct generation $gen of $tablePath: no full " +
                s"manifest and no delta sidecar for generation $h")
          }
        }
      }
    }
  }

  /** One manifest JSON line → entry. Minimal parser for the writer's own
    * fixed shape: `{"commit_id":"...","files":["a","b"],
    * "bytes":[123,456],"stats":[{...},{...}]}` (`bytes` and `stats`
    * optional, one element per file, in file order; delta sidecars
    * prepend a `"rewrite":bool` field this parser ignores). Each
    * optional section is parsed only from the region where the writer
    * puts it — `bytes` strictly between the `files` array and `stats` —
    * so a stats COLUMN named `bytes` can never be mistaken for it (the
    * same positional-anchor discipline as [[deltaRecord]]'s fresh
    * parse). */
  private def parseManifestLine(line: String): ManifestEntry = {
    val commitId = line.split("\"commit_id\":\"", 2)(1).split("\"", 2)(0)
    val afterFilesKey = line.split("\"files\":\\[", 2)(1)
    val filesPart = afterFilesKey.split("\\]", 2)(0)
    val files =
      if (filesPart.isEmpty) Seq.empty[String]
      else filesPart.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    val afterFiles = afterFilesKey.split("\\]", 2) match {
      case Array(_, rest) => rest
      case _ => ""
    }
    val bytes: Seq[Long] =
      afterFiles.split("\"stats\":\\[", 2)(0).split("\"bytes\":\\[", 2) match {
        case Array(_, rest) =>
          val body = rest.split("\\]", 2)(0)
          if (body.isEmpty) Seq.empty
          else body.split(",").toSeq.map(_.trim.toLong)
        case _ => Seq.empty // pre-bytes manifest: sizes unknown
      }
    val stats: Seq[Map[String, (StatVal, StatVal)]] =
      line.split("\"stats\":\\[", 2) match {
        case Array(_, rest) =>
          // Objects hold only `"col":["tag","tag"]` pairs whose tagged
          // values (base64 / decimal digits) contain no `{`/`}` — the
          // `},{` split cannot fire inside a value.
          val body = rest.reverse.dropWhile(_ != ']').drop(1).reverse
          if (body.isEmpty) files.map(_ => Map.empty[String, (StatVal, StatVal)])
          else body.stripPrefix("{").stripSuffix("}").split("\\},\\{", -1)
            .toSeq.map(parseStatsObj)
        case _ => files.map(_ => Map.empty[String, (StatVal, StatVal)])
      }
    ManifestEntry(commitId, files,
      if (stats.size == files.size) stats
      else files.map(_ => Map.empty[String, (StatVal, StatVal)]),
      if (bytes.size == files.size) bytes else Nil)
  }

  private def parseStatsObj(body: String): Map[String, (StatVal, StatVal)] =
    if (body.isEmpty) Map.empty
    else StatsPairRe.findAllMatchIn(body).map { m =>
      m.group(1) -> (decodeStatVal(m.group(2)), decodeStatVal(m.group(3)))
    }.toMap

  // ------------------------------------------------- delta sidecar
  // The manifest is a FULL live-file listing, so a parse costs O(live
  // files) — fine for a read (one parse), quadratic for a changefeed
  // catch-up that folds over every generation. Each publishing write
  // therefore also records WHAT CHANGED as a tiny per-generation sidecar
  // (the Delta-Lake commit-log shape, with the full manifest playing the
  // role of an every-generation checkpoint): the new entry's files plus a
  // rewrite flag (true when any previously-live file left the manifest —
  // replaceAll/merge). The changefeed's getBatch reads ONLY sidecars,
  // O(commit size) per generation instead of O(table); a missing sidecar
  // (pre-sidecar table) falls back to the full-manifest diff fold.
  // Crash-safety rides the existing protocol: the sidecar is written
  // before the pointer swap (invisible until published, overwritten
  // verbatim by a crash replay), and sidecars are never deleted, like
  // manifests.

  private def deltaPath(gen: Long): String = f"$manifestDir/d-$gen%09d.json"

  /** The ATTEMPT-UNIQUE reservation-heartbeat marker for `gen`. A
    * heartbeating holder overwrites its OWN marker (fresh mtime) instead
    * of rewriting the shared sidecar: no shared metadata object is ever
    * written by a heartbeat, so no interleaving — however long a stale
    * holder freezes — can clobber another attempt's record. The takeover
    * clock ([[tryOwnGeneration]], [[heldByForeign]]) reads the CURRENT
    * sidecar owner's marker, so a fenced attempt's marker is inert by
    * name. */
  private def heartbeatPath(gen: Long, nonce: String): String =
    f"$manifestDir/hb-$gen%09d.$nonce"

  /** Start the reservation heartbeat for generation `gen` under attempt
    * `nonce`: a daemon thread overwrites the attempt-unique marker
    * (`hb-<gen>.<nonce>`) every `leaseMillis`/3, re-arming the SHORT
    * advertised lease for as long as the holder is alive — however long
    * its derivation and publish tail run. Writing the marker is
    * unconditionally safe: it is this attempt's own object, never shared
    * metadata, so a fenced/frozen holder's beat can clobber nothing (a
    * stale marker is inert by name), and a transient write fault skips
    * ONE beat (the lease is three intervals deep) instead of killing the
    * thread. Returns the stop handle: call it AFTER the publish tail —
    * it joins the thread, whose finally reclaims the marker (a crash
    * leaves the marker for the sweep as attempt-unique debris). Shared
    * by the escalated merge and the compactor's reservation. */
  private def startReservationHeartbeat(gen: Long, nonce: String,
      leaseMillis: Long): () => Unit = {
    val hbStop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      val (hfs, hp) = fsOf(heartbeatPath(gen, nonce))
      val interval = math.max(1L, leaseMillis / 3)
      try {
        while (!hbStop.await(interval,
            java.util.concurrent.TimeUnit.MILLISECONDS)) {
          try if (!pauseEscalationHeartbeat) {
            val out = hfs.create(hp, true)
            try out.write('1'.toInt) finally out.close()
            reservationHeartbeatCount.incrementAndGet()
          } catch {
            case scala.util.control.NonFatal(e) => log.warn(
              s"reservation heartbeat for generation $gen " +
                s"of $tablePath skipped a beat", e)
          }
        }
      } finally {
        // Best-effort reclaim of the marker; a crash leaves it for the
        // sweep (attempt-unique debris).
        try { hfs.delete(hp, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }, s"graft-reservation-heartbeat-$gen")
    hb.setDaemon(true)
    hb.start()
    () => { hbStop.countDown(); hb.join() }
  }

  /** Freshest evidence-of-life for a reservation: the sidecar's own
    * mtime, advanced by the holder's heartbeat marker when the record
    * advertises a lease (only escalations heartbeat — one extra
    * getFileStatus, paid only on contended own attempts). A marker read
    * fault falls back to the sidecar mtime: the conservative direction
    * is a possibly-premature takeover, which the fencing nonce resolves
    * as an ordinary loss, never corruption. */
  private def reservationFreshMillis(gen: Long,
      record: Option[ManifestTable.DeltaRecord], sidecarMtime: Long): Long =
    if (record.flatMap(_.leaseMillis).isEmpty) sidecarMtime
    else record.flatMap(_.owner).map { o =>
      try {
        val (hfs, hp) = fsOf(heartbeatPath(gen, o))
        math.max(sidecarMtime, hfs.getFileStatus(hp).getModificationTime)
      } catch { case scala.util.control.NonFatal(_) => sidecarMtime }
    }.getOrElse(sidecarMtime)

  /** The sidecar line is a manifest line (commit_id, files, stats — so a
    * delta-only generation reconstructs with its pruning bounds intact)
    * plus a leading `rewrite` flag and, for rewrite generations whose
    * writer could tell (merge segregates them physically; replaceAll is
    * contents-preserving by contract), a `fresh` list: the subset of
    * `files` carrying genuinely NEW rows — per-file dataChange, the
    * Delta-CDF shape, which is what lets a changefeed subscriber under
    * `onRewrite=emitFresh` receive a merge's inserts instead of choosing
    * between dropping them (skip) and halting (fail). Absent `fresh` on
    * a rewrite (pre-upgrade or backfilled sidecars) means UNKNOWN, never
    * "none". */
  private def deltaJson(e: ManifestEntry, rewrite: Boolean,
      fresh: Option[Seq[String]], owner: Option[String] = None,
      leaseMillis: Option[Long] = None): String = {
    // `owner` leads the line (inside the positional anchor deltaRecord
    // parses — strictly before `files`): the publishing attempt's fencing
    // nonce. Absent on backfilled/legacy sidecars (published history
    // needs no fence). `lease` (same anchor region) is the holder's own
    // ADVERTISED takeover lease in millis — written by reservations that
    // heartbeat (escalated merges), so foreign publishers wait out
    // seconds, not the crash-sized global lease; absent = the global
    // [[ManifestTable.publishLeaseMillis]] applies, so legacy records
    // keep their generous floor.
    val ownerPart = owner.fold("")(n => s""""owner":${quote(n)},""")
    val leasePart = leaseMillis.fold("")(l => s""""lease":$l,""")
    val freshPart = fresh.fold("")(fs0 =>
      s""""fresh":[${fs0.map(quote).mkString(",")}],""")
    s"""{$ownerPart$leasePart"commit_id":${quote(e.commitId)},"rewrite":$rewrite,""" +
      freshPart +
      s""""files":[${e.files.map(quote).mkString(",")}]""" +
      s"""${bytesJsonPart(e)}${statsJsonPart(e)}}""" + "\n"
  }

  private def writeDelta(gen: Long, e: ManifestEntry, rewrite: Boolean,
      fresh: Option[Seq[String]] = None, owner: Option[String] = None,
      leaseMillis: Option[Long] = None): Unit = {
    val (fs, p) = fsOf(deltaPath(gen))
    fs.mkdirs(p.getParent)
    val json = deltaJson(e, rewrite, fresh, owner, leaseMillis)
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** [[writeDelta]] under the store's conditional-replace capability:
    * the swap lands only if the sidecar still holds `expected` (the
    * placeholder bytes this attempt wrote at reservation). Returns false
    * ONLY when a conditional store REFUSED the precondition — a takeover
    * replaced the sidecar in the check-to-write instant, and refusing
    * here converts the documented TOCTOU damage class into an ordinary
    * loud conflict with ZERO shared-metadata damage. Plain stores
    * perform the guarded overwrite and return true (the caller's
    * published re-check keeps their residual window detectable). */
  private def writeDeltaIfMatch(gen: Long, e: ManifestEntry, rewrite: Boolean,
      fresh: Option[Seq[String]], owner: Option[String],
      expected: Array[Byte]): Boolean = {
    val (fs, p) = fsOf(deltaPath(gen))
    conditionalOf(fs) match {
      case Some(c) =>
        val json = deltaJson(e, rewrite, fresh, owner, None)
        c.replaceIfMatch(p, expected, json.getBytes("UTF-8"))
      case None =>
        writeDelta(gen, e, rewrite, fresh, owner)
        true
    }
  }

  // ---------------------------------------------- optimistic concurrency
  // The generation-numbered sidecar doubles as the generation's
  // MUTUAL-EXCLUSION token (the Delta-Lake commit-file shape on graft's
  // own layout): every publishing path exclusive-creates it BEFORE any
  // other metadata write at that generation, so two publishers computing
  // next = gen+1 can never both proceed — the loser gets a loud conflict
  // (retried by commit/merge from the fresh head; surfaced as
  // [[ConcurrentPublishException]] by replaceAll, whose input is stale by
  // definition). `fs.create(path, overwrite = false)` is atomic on HDFS,
  // a conditional PUT (If-None-Match) on S3-class stores, and an
  // exists+create with a microsecond TOCTOU window on raw local mounts —
  // strictly stronger than the blind overwrite it replaces everywhere.
  // The per-store-class contract (and required connector config) is the
  // README's "Store requirements" table; ObjectStoreProtocolSpec pins
  // BOTH classes with a mode-switched shim: conditional create keeps
  // the race fully serialized, TOCTOU degrades to fenced-but-detectable
  // (verifyHead) sidecar mis-attribution, never a lost pointer.

  private sealed trait OwnResult
  private case object Owned extends OwnResult
  private case object OwnConflict extends OwnResult
  private case object AlreadyPublishedByUs extends OwnResult

  /** Try to own generation `gen` by exclusive-creating its sidecar,
    * stamped with this attempt's fencing `nonce`.
    *
    *   - fresh create                 → Owned
    *   - exists, same commitId        → a crashed (or paused) attempt of
    *     this same commit: re-own by overwrite with OUR nonce (the data
    *     dir is deterministic per (commitId, gen) and was just
    *     rewritten), fencing the previous attempt — unless the
    *     generation is already PUBLISHED, in which case the earlier
    *     attempt (or a sibling process replaying the same commitId)
    *     completed it. The published state is re-checked immediately
    *     before the overwrite.
    *   - exists, foreign commitId     → conflict, UNLESS the generation is
    *     unpublished and the sidecar is older than the publish lease — a
    *     dead attempt whose process crashed between sidecar and pointer
    *     swap; take it over (logged), re-verifying the generation is
    *     STILL unpublished immediately before the overwrite (a
    *     lease-expired-but-alive holder may have published in the
    *     snapshot-to-takeover window — its committed generation is
    *     immutable). The takeover installs OUR nonce, so the previous
    *     holder — paused, not dead — is rejected by content at its own
    *     publish instead of clobbering ours.
    *   - exists but unparseable       → a torn write from a crashed
    *     attempt (or one mid-write): lease rules as above. */
  private def tryOwnGeneration(gen: Long, entry: ManifestEntry,
      rewrite: Boolean, fresh: Option[Seq[String]], nonce: String,
      leaseMillis: Option[Long] = None): OwnResult = {
    val (fs, p) = fsOf(deltaPath(gen))
    fs.mkdirs(p.getParent)
    val json = deltaJson(entry, rewrite, fresh, Some(nonce), leaseMillis)
    def write(overwrite: Boolean): Unit = {
      val out = fs.create(p, overwrite)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
    val created =
      try { write(overwrite = false); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException if fs.exists(p) => false
      }
    if (created) return Owned
    val published = currentGeneration().exists(_ >= gen)
    // Raw bytes read ONCE: the ownership judgment below parses THESE
    // bytes, and on a conditional-write store the replacement is a
    // compare-and-swap against exactly them — judgment and store
    // precondition can never diverge (a fresher read between the two
    // would let a CAS succeed against content the judgment never saw).
    val raw: Option[Array[Byte]] =
      try readRawIfExists(fs, p)
      catch { case scala.util.control.NonFatal(_) => None }
    val record: Option[ManifestTable.DeltaRecord] =
      try raw.map(b => parseDeltaLine(new String(b, "UTF-8").trim, gen))
      catch { case scala.util.control.NonFatal(_) => None } // torn write
    // Conditional store (README "Store requirements"): the re-own /
    // takeover overwrite lands only if the sidecar still holds the
    // judged bytes; a refusal means it moved under us — a woken holder
    // re-owned or published, or a rival takeover won — and surfaces as
    // the ordinary loud conflict, never a clobber. Plain stores keep
    // the guarded blind overwrite (the re-checks around it bound the
    // window; residual damage stays head-check-detectable).
    def replaceJudged(): Boolean = conditionalOf(fs) match {
      case Some(c) =>
        raw.exists(b => c.replaceIfMatch(p, b, json.getBytes("UTF-8")))
      case None => write(overwrite = true); true
    }
    // Torn and vanished-mid-probe both land in the lease path below —
    // a vanished sidecar's age read is FileNotFound → never past the
    // lease → conflict, and the caller's retry re-owns it cleanly.
    val holder: Option[String] = record.map(_.entry.commitId)
    holder match {
      case Some(cid) if cid == entry.commitId =>
        if (published) AlreadyPublishedByUs
        else if (currentGeneration().exists(_ >= gen)) AlreadyPublishedByUs
        else if (replaceJudged()) Owned
        else OwnConflict // CAS refused: the attempt moved under us
      case _ if published => OwnConflict // committed history: immutable
      case other =>
        // The holder's own advertised lease (escalated reservations
        // heartbeat under a short one) bounds the crash stall; a torn or
        // legacy record keeps the generous global floor. The age clock
        // reads the holder's heartbeat marker too — a LIVE escalated
        // derivation of any length keeps re-arming it.
        val holderLease = record.flatMap(_.leaseMillis)
          .map(l => math.min(l, publishLeaseMillis))
          .getOrElse(publishLeaseMillis)
        val sidecarMtime =
          try fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        val age = System.currentTimeMillis() -
          reservationFreshMillis(gen, record, sidecarMtime)
        if (age > holderLease) {
          // Published-state re-check at the last responsible instant: the
          // `published` snapshot above is several metadata round trips
          // old by now; a lease-expired-but-ALIVE holder publishing in
          // that window must not have its committed generation's sidecar
          // overwritten (delta-only readers reconstruct from it).
          if (currentGeneration().exists(_ >= gen)) return OwnConflict
          beforeTakeoverWriteHook()
          if (!replaceJudged()) return OwnConflict // moved under us
          log.warn(s"took over generation $gen of $tablePath from a dead " +
            s"publish attempt (holder=${other.getOrElse("<unparseable>")}, " +
            s"sidecar age ${age / 1000}s > lease ${holderLease / 1000}s)")
          leaseTakeoverCount.incrementAndGet()
          Owned
        } else OwnConflict
    }
  }

  /** Pointer swap for a generation this instance OWNS, fenced by the
    * attempt `nonce` on BOTH sides of the swap:
    *
    *   - BEFORE: the sidecar must still carry our nonce. A takeover
    *     (lease-expired foreign publisher, or a sibling replay of the
    *     same commitId) rewrote it with theirs, so a paused-then-woken
    *     owner is rejected by content here — it can never regress the
    *     pointer or publish over the winner's metadata. A same-commitId
    *     sibling that already PUBLISHED the generation completes this
    *     commit (return normally); anything else is a loud conflict.
    *   - AFTER: the sidecar is re-read. If the nonce changed in the
    *     check-to-swap instant, this attempt's content did not survive
    *     (the overwriter's record is what readers resolve), so the swap
    *     — even though it landed — must report a conflict: the caller
    *     retries and its commit lands whole at the next generation
    *     instead of being silently absorbed into someone else's.
    *
    * The pointer frame itself carries the nonce (`g5`, see
    * [[ManifestTable.Framed4Re]]), so head sidecar and pointer are
    * cross-checkable by any observer ([[verifyHead]]). */
  private def publishOwned(gen: Long, commitId: String, nonce: String,
      entry: ManifestEntry, rewrite: Boolean,
      fresh: Option[Seq[String]]): Unit = {
    beforePublishHook()
    def sidecarOwner(): (Option[String], Option[String]) =
      try deltaRecord(gen) match {
        case Some(r) => (Some(r.entry.commitId), r.owner)
        case None => (None, None)
      } catch { case scala.util.control.NonFatal(_) => (None, None) }
    val (cid, own) = sidecarOwner()
    if (!own.contains(nonce)) {
      if (cid.contains(commitId) && currentGeneration().exists(_ >= gen))
        return // a sibling replay of this commitId published it whole
      fencedPublishCount.incrementAndGet()
      throw new ConcurrentPublishException(
        s"lost ownership of generation $gen of $tablePath before the " +
          s"pointer swap (sidecar now held by " +
          s"${cid.getOrElse("<unparseable>")}) — a concurrent publisher " +
          "took over after this attempt's lease expired")
    }
    pointerFrame() match {
      case Some((cur, _)) if cur > gen =>
        return // deep history: later heads built atop our gen
      case Some((cur, frameOwner)) if cur == gen =>
        // The pointer already reached OUR generation but we never
        // swapped: someone else published it. The swap's CONTENT is the
        // arbiter — if the owner frame names a different attempt, the
        // committed generation is not ours no matter what the sidecar
        // says (a woken stale writer may have re-clobbered the sidecar
        // with its own record AFTER the winner's publish; the pointer it
        // cannot fake without swapping, which is exactly what this
        // branch refuses). A torn/unreadable pointer THREW above
        // (pointerFrame's bounded retry) rather than feeding this
        // leniency. Legacy frames (no owner) keep the pre-fencing
        // lenient behavior.
        frameOwner match {
          case Some(o) if o != nonce =>
            fencedPublishCount.incrementAndGet()
            throw new ConcurrentPublishException(
              s"generation $gen of $tablePath was published by a different " +
                s"attempt (pointer owner $o) — this attempt's swap is " +
                "rejected by content; retrying at the next generation")
          case _ => return // ours (impossible pre-swap) or legacy: complete
        }
      case _ => () // cur < gen (or empty table): proceed to the swap
    }
    publish(gen, nonce)
    afterSwapHook()
    // Post-swap content check. The POINTER is the commit point and we
    // just swapped it, so this attempt's commit is live; if the sidecar
    // no longer carries our nonce, a fenced concurrent publisher
    // clobbered it in the check-to-swap instant (it will lose at its own
    // pointer arbitration above). REPAIR the sidecar with our record —
    // we hold the authoritative content — so readers, the changefeed,
    // and reconstruction see the generation the pointer actually
    // published; without the repair, delta-only readers would resolve
    // the clobberer's record and emit its files as this generation's.
    //
    // EVERYTHING from here down runs AFTER the commit point: a transient
    // failure in the verification reads or the repair write must NOT
    // surface as a failed publish — the caller would re-submit under a
    // fresh commitId and append duplicate rows for a commit that is
    // already live. Only the deliberate content-lost conflict (the
    // pointer provably names someone else) propagates; anything else is
    // logged (verifyHead keeps flagging an unrepaired sidecar).
    try {
      val (cid2, own2) = sidecarOwner()
      if (!own2.contains(nonce)) {
        pointerFrame() match {
          case Some((cur2, Some(o))) if cur2 == gen && o == nonce =>
            log.warn(s"sidecar of generation $gen of $tablePath was " +
              s"overwritten by a fenced concurrent publisher " +
              s"(${cid2.getOrElse("<unparseable>")}) in the check-to-swap " +
              "instant — repairing with this attempt's record (the pointer " +
              "names this attempt as the published owner)")
            writeDelta(gen, entry, rewrite, fresh, Some(nonce))
          case _ if cid2.contains(commitId) =>
            return // same commit, a sibling's equivalent content: complete
          case _ =>
            // The pointer moved past (or away from) our swap too: this
            // attempt's content is not the committed generation — loud
            // conflict, the caller re-lands whole at the next generation.
            fencedPublishCount.incrementAndGet()
            throw new ConcurrentPublishException(
              s"generation $gen of $tablePath was overwritten by a " +
                s"concurrent publisher (${cid2.getOrElse("<unparseable>")}) " +
                "in the check-to-swap instant — this attempt's content did " +
                "not survive; retrying at the next generation")
        }
      }
    } catch {
      case e: ConcurrentPublishException => throw e
      case scala.util.control.NonFatal(e) =>
        log.warn(s"post-swap verification/repair of generation $gen of " +
          s"$tablePath failed transiently — the publish itself LANDED " +
          "(pointer swapped); a clobbered sidecar, if any, remains until " +
          "verifyHead/a later publish repairs it", e)
    }
  }

  private def publishBackoff(attempt: Int): Unit =
    Thread.sleep(math.min(2000L, 25L << math.min(attempt, 6)) +
      scala.util.Random.nextInt(25).toLong)

  /** This attempt still holds generation `gen`'s reservation: the
    * generation is unpublished and the sidecar carries this attempt's
    * `nonce` (ownership is the nonce, never just the commitId — a
    * sibling replay of the same commit is a DIFFERENT attempt). */
  private def stillOwns(gen: Long, nonce: String): Boolean =
    currentGeneration().forall(_ < gen) && {
      (try deltaRecord(gen).flatMap(_.owner)
       catch { case scala.util.control.NonFatal(_) => None }).contains(nonce)
    }

  /** Best-effort release of an owned-but-unpublished reservation — what a
    * LIVE publisher does when its derivation fails, so one transient
    * failure doesn't hold every other writer hostage for the lease. A
    * dead publisher can't run this; its orphan resolves via the lease. */
  private def tryReleaseReservation(gen: Long, nonce: String): Unit =
    try {
      if (stillOwns(gen, nonce)) fsOf(deltaPath(gen)) match {
        case (fs, p) => fs.delete(p, false); ()
      }
    } catch {
      case scala.util.control.NonFatal(e) => log.warn(
        s"could not release reservation for generation $gen of $tablePath " +
          "— concurrent writers will wait out the publish lease", e)
    }

  /** Delete this attempt's own dead staged data directory after a lost
    * race — the directory is named by (commitId, generation), the
    * winner's generation references nothing under it, and the loser is
    * the one caller that KNOWS it is dead, so reclaiming it here keeps
    * conflict-heavy periods from accumulating unreferenced attempt dirs
    * until a [[sweepOrphans]]. Best-effort: a failure leaves it for the
    * sweep, never fails the retry. */
  /** [[dropDeadAttemptDir]] guarded to fire ONLY when the staged
    * directory is provably dead:
    *
    *   - the generation must be PUBLISHED (head >= gen). While it is
    *     unpublished, a same-commitId sibling replay may be mid-staging
    *     into the very same deterministic directory BEFORE owning the
    *     sidecar — no holder check can see it, so "unpublished and
    *     foreign-held/unowned" proves nothing about the directory;
    *     deleting then could hand the sibling an empty/partial file set
    *     that it later publishes (silent data loss). Deferred to the
    *     next head-moved cleanup or the age-gated sweep instead;
    *   - no PUBLISHED metadata references the directory — checked across
    *     every generation from `gen` to the head (bounded; a wide range
    *     conservatively keeps), because a rebased merge can publish a
    *     staged directory under a LATER generation than the one in its
    *     name, and history within the retention window stays
    *     time-travel readable;
    *   - and the verification reads themselves SUCCEEDED — a transient
    *     metadata failure keeps the directory (the sweep collects a
    *     genuinely dead one later); it must never authorize deleting
    *     what might be published data. */
  private def dropStagedIfDead(commitId: String, gen: Long): Unit = {
    val dirPrefix = s"d-$commitId-g$gen/"
    val dead =
      try {
        val head = currentGeneration().getOrElse(0L)
        if (head < gen) false // unpublished: a sibling may be mid-staging
        else if (head - gen > 16L) false // too wide to verify cheaply: sweep's job
        else !(gen to head).exists(g =>
          manifestEntriesFull(g).exists(_.files.exists(_.startsWith(dirPrefix))))
      } catch { case scala.util.control.NonFatal(_) => false }
    if (dead) dropDeadAttemptDir(commitId, gen)
  }

  private def dropDeadAttemptDir(commitId: String, gen: Long): Unit =
    try {
      val (fs, p) = fsOf(s"$tablePath/d-$commitId-g$gen")
      if (fs.exists(p)) { fs.delete(p, true); () }
    } catch {
      case scala.util.control.NonFatal(e) => log.warn(
        s"could not reclaim dead attempt dir d-$commitId-g$gen of " +
          s"$tablePath — sweepOrphans will collect it", e)
    }

  /** Generation `gen` is reserved by a DIFFERENT live-looking publisher:
    * unpublished, sidecar present, holder ≠ `commitId`, inside the lease.
    * The cheap pre-derivation probe — a merge blocked behind a compaction
    * hold learns it from two tiny metadata reads instead of re-running
    * its whole derivation into a doomed own attempt. */
  private def heldByForeign(gen: Long, commitId: String): Boolean = {
    val (fs, p) = fsOf(deltaPath(gen))
    if (!fs.exists(p)) return false
    if (currentGeneration().exists(_ >= gen)) return false
    val record =
      try deltaRecord(gen)
      catch { case scala.util.control.NonFatal(_) => None }
    if (record.map(_.entry.commitId).contains(commitId)) return false
    // The holder's advertised lease (heartbeating escalated reservations
    // run a short one) bounds how long this probe reports "blocked"; the
    // age clock reads the holder's heartbeat marker too.
    val holderLease = record.flatMap(_.leaseMillis)
      .map(l => math.min(l, publishLeaseMillis))
      .getOrElse(publishLeaseMillis)
    val sidecarMtime =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return false }
    val age = System.currentTimeMillis() -
      reservationFreshMillis(gen, record, sidecarMtime)
    age <= holderLease
  }

  /** The `,"bytes":[...]` fragment of one entry line — per-file sizes,
    * recorded from the commit's own listing (the writer already has the
    * `FileStatus` in hand, so this costs nothing extra). What they buy:
    * the changefeed's volume-aware admission can budget a micro-batch in
    * BYTES from sidecar metadata alone, without a single extra
    * filesystem call at offset-planning time — the Delta-source
    * maxBytesPerTrigger shape. Omitted when unknown (entries parsed from
    * pre-bytes manifests carry through without inventing sizes). */
  private def bytesJsonPart(e: ManifestEntry): String =
    if (e.bytes.size != e.files.size || e.files.isEmpty) ""
    else s""","bytes":[${e.bytes.mkString(",")}]"""

  /** The `,"stats":[...]` fragment of one entry line — ONE encoder for
    * both the full manifest and the delta sidecar, because
    * [[parseManifestLine]] parses both: a drifted copy would make
    * delta-reconstructed generations prune differently than
    * checkpointed ones. */
  private def statsJsonPart(e: ManifestEntry): String =
    if (e.stats.forall(_.isEmpty)) ""
    else {
      val objs = e.stats.map { m =>
        m.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
          s"${quote(c)}:[${quote(encodeStatVal(lo))},${quote(encodeStatVal(hi))}]"
        }.mkString("{", ",", "}")
      }
      s""","stats":[${objs.mkString(",")}]"""
    }

  /** Generation `gen`'s full change record (entry incl. stats + rewrite
    * flag + the fresh/dataChange file list when the writer recorded
    * one). None on pre-sidecar tables. */
  private[graft] def deltaRecord(gen: Long): Option[ManifestTable.DeltaRecord] = {
    val (fs, p) = fsOf(deltaPath(gen))
    readRawIfExists(fs, p).map(bytes =>
      parseDeltaLine(new String(bytes, "UTF-8").trim, gen))
  }

  /** The object's raw bytes, or None when absent (read it ONCE — the
    * conditional-write paths CAS against exactly the bytes their
    * judgment parsed, so judgment and precondition can never diverge). */
  private def readRawIfExists(fs: FileSystem, p: Path): Option[Array[Byte]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in))
      finally in.close()
    }

  private def parseDeltaLine(line: String, gen: Long): ManifestTable.DeltaRecord = {
      // POSITIONAL anchor: `rewrite` and `fresh` are only ever written
      // BEFORE the `files` array, while the stats section (after it) can
      // contain a user column literally named `rewrite` or `fresh` —
      // whose `"fresh":["l:...","l:..."]` bounds a whole-line split would
      // capture as a fresh-FILE list, sending emitFresh subscribers to
      // scan garbage paths. Quoting protects every other collision (a
      // crafted commit_id or file name arrives with its quotes escaped,
      // so the literal `"fresh":[` pattern cannot assemble), leaving the
      // stats keys as the one unescaped surface — excluded here by
      // parsing only the prefix.
      val beforeFiles = line.split("\"files\":\\[", 2)(0)
      val rewrite = beforeFiles.split("\"rewrite\":", 2) match {
        case Array(_, rest) => rest.trim.startsWith("true")
        // Every sidecar writer emits the rewrite field; its absence is
        // corruption and must stay LOUD — a silent `false` would classify
        // a malformed rewrite sidecar as a plain append and re-deliver
        // the rewrite's whole file list as fresh mutations downstream.
        case _ => sys.error(
          s"delta sidecar for generation $gen of $tablePath has no " +
            "rewrite field — corrupt sidecar")
      }
      val fresh = beforeFiles.split("\"fresh\":\\[", 2) match {
        case Array(_, rest) =>
          val body = rest.split("\\]", 2)(0)
          Some(if (body.isEmpty) Seq.empty[String]
          else body.split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\"")))
        case _ => None
      }
      // Fencing nonce (same positional anchor: only ever written before
      // `files`). Absent on legacy/backfilled sidecars.
      val owner = beforeFiles.split("\"owner\":\"", 2) match {
        case Array(_, rest) => Some(rest.split("\"", 2)(0))
        case _ => None
      }
      // Advertised takeover lease (same anchor; see deltaJson). A
      // malformed value reads as absent — the conservative global lease.
      val lease = beforeFiles.split("\"lease\":", 2) match {
        case Array(_, rest) =>
          scala.util.Try(rest.takeWhile(_.isDigit).toLong).toOption
        case _ => None
      }
      ManifestTable.DeltaRecord(parseManifestLine(line), rewrite, fresh,
        owner, lease)
  }

  /** [[deltaRecord]] minus the fresh list (the reconstruction path's
    * shape). */
  private[graft] def deltaEntryFull(gen: Long): Option[(ManifestEntry, Boolean)] =
    deltaRecord(gen).map(r => (r.entry, r.rewrite))

  /** Generation `gen`'s change record: (commitId, files this generation
    * added, whether it rewrote prior files). None on pre-sidecar tables. */
  private[graft] def deltaEntry(gen: Long): Option[(String, Seq[String], Boolean)] =
    deltaEntryFull(gen).map { case (e, rw) => (e.commitId, e.files, rw) }

  /** Synthesize the delta sidecars a PRE-SIDECAR (legacy) table is
    * missing, so its changefeed subscriptions take the linear fast path
    * instead of re-paying the O(G²) full-manifest fold on EVERY catch-up
    * (61.3 s vs 1.18 s at 4096 generations in the depth probe — and the
    * fold cost recurs per subscription, where this pass pays it once).
    *
    * One fold total: each generation's manifest is parsed once,
    * prev→cur, exactly the changefeed fallback's walk — so the
    * synthesized record (new entry = the listing's last entry, the
    * position all three writers append at; rewrite = any prev file
    * absent from cur, the same FILE-level criterion) is by construction
    * what the fold would have derived, and a post-backfill fast-path
    * read emits byte-identically to a pre-backfill fold read. Stats ride
    * along from the manifest, so delta reconstruction keeps its pruning
    * bounds.
    *
    * Safe under the documented single-writer discipline (run it like a
    * compaction); idempotent (existing sidecars are never rewritten);
    * does NOT touch the pointer frame — every generation keeps its full
    * manifest, so pre-sidecar READERS remain compatible (the g3
    * min-reader gate is only for delta-ONLY generations, which this
    * never creates).
    *
    * RUN WHILE SUBSCRIPTIONS ARE STOPPED (like compaction). The
    * changefeed's `getBatch` plan for an offset range depends on which
    * path serves it: backfilling between a batch's first plan and a
    * crash-replay of the same offsets can switch the range from the
    * full-manifest fold to the sidecar fast path. For plain appends and
    * `skip`/`fail` the two paths agree exactly (spec-pinned), but under
    * `onRewrite=emitFresh` a pre-upgrade MERGE generation legitimately
    * differs — the fold skips it loudly (fresh unknown), while a sidecar
    * synthesized later also records fresh=unknown, so the skip is
    * stable; what can differ is the warning path and, for sidecars
    * written by post-upgrade merges mid-range, the emitted fresh files.
    * Exactly-once replay is only byte-identical when the metadata under
    * an offset range does not change between plan and replay — the same
    * stopped-subscriber discipline every rewrite already requires.
    * Returns (synthesized, alreadyPresent). */
  def backfillDeltaSidecars(): (Int, Int) = {
    val head = currentGeneration().getOrElse(0L)
    var synthesized = 0
    var present = 0
    var prevFiles: Set[String] = Set.empty
    // Legacy manifests predate per-file byte sizes, so a synthesized
    // sidecar would inherit bytes=unknown — and a byte-budgeted
    // changefeed catch-up over the backfilled table would STILL degrade
    // to one-generation-per-batch (the admit-alone unbudgetable path).
    // The data files exist; stat them once per distinct file across the
    // whole pass (a file appears in every generation from its commit to
    // its rewrite) and stamp real sizes. All-or-nothing per entry, like
    // the parser's contract; a swept file (aged-out generation whose data
    // was reclaimed) leaves its entry honestly unbudgetable.
    val sizeCache = scala.collection.mutable.Map.empty[String, Option[Long]]
    def statSize(rel: String): Option[Long] =
      sizeCache.getOrElseUpdate(rel, {
        val (fs, p) = fsOf(s"$tablePath/$rel")
        try Some(fs.getFileStatus(p).getLen)
        catch { case _: java.io.FileNotFoundException => None }
      })
    def withBytes(e: ManifestEntry): ManifestEntry =
      if (e.bytes.size == e.files.size || e.files.isEmpty) e
      else {
        val sizes = e.files.map(statSize)
        if (sizes.forall(_.isDefined)) e.copy(bytes = sizes.map(_.get)) else e
      }
    (1L to head).foreach { g =>
      val cur = manifestEntriesFull(g) // loud if BOTH m- and d- are missing
      if (deltaEntryFull(g).isDefined) present += 1
      else {
        val curFiles = cur.iterator.flatMap(_.files).toSet
        val rewrite = prevFiles.exists(f => !curFiles.contains(f))
        val entry = withBytes(cur.lastOption.getOrElse(
          ManifestEntry("", Seq.empty, Seq.empty)))
        writeDelta(g, entry, rewrite)
        synthesized += 1
      }
      prevFiles = cur.iterator.flatMap(_.files).toSet
    }
    (synthesized, present)
  }

  /** Write this ATTEMPT's full manifest for `gen` — to the attempt's own
    * object ([[manifestPathOwned]]), so concurrent/stale attempts can
    * never clobber or shadow each other's manifests; which object a
    * reader trusts is decided by the sidecar's owner
    * ([[resolvedManifestPath]]). `owner` must be the attempt's fencing
    * nonce — the one in the generation sidecar this attempt owns. */
  private def writeManifest(gen: Long, entries: Seq[ManifestEntry],
      owner: String): Unit = {
    beforeManifestWriteHook()
    val (fs, p) = fsOf(manifestPathOwned(gen, owner))
    fs.mkdirs(p.getParent)
    val json = entries.map { e =>
      s"""{"commit_id":${quote(e.commitId)},"files":[${e.files.map(quote).mkString(",")}]""" +
        s"""${bytesJsonPart(e)}${statsJsonPart(e)}}"""
    }.mkString("", "\n", "\n")
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def listDataFiles(dir: String): Seq[String] =
    listDataFilesStat(dir).map(_._1)

  private def listDataFilesSized(dir: String): Seq[(String, Long)] =
    listDataFilesStat(dir).map(t => (t._1, t._2))

  /** THE ONE commit-dir walk (relative path, byte size, mtime) — the
    * commit path (names + sizes for the manifest `bytes` field), the
    * file-level sweep (names + mtime for the age guard), and
    * reconstruction all derive from this, so layout/relativization can
    * never drift between writers and reclaimers. Sizes/mtimes are free:
    * the listing already returns `FileStatus`. */
  private def listDataFilesStat(dir: String): Seq[(String, Long, Long)] = {
    val (fs, p) = fsOf(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        buf += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    // Relative to tablePath, so the table survives a root move.
    val prefix = fsOf(tablePath)._2.toUri.getPath
    buf.toSeq.map { case (f, len, mtime) =>
      (new Path(f).toUri.getPath.stripPrefix(prefix).stripPrefix("/"),
        len, mtime)
    }.sortBy(_._1)
  }

  /** Write one commit's data files under `dir`, hive-partitioned by
    * `partitionCol` when set (so downstream reads prune on it). */
  private def writeData(df: DataFrame, dir: String): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(dir)
  }

  // --------------------------------------------------------------- commit

  /** Append `df` as `commitId`. Idempotent: an already-manifested
    * commitId skips (returns false). Crash-safe: the pointer swap is the
    * last step, and a replay after a crash rewrites the same attempt
    * directory in overwrite mode. CONCURRENCY-safe: the generation is
    * owned by exclusive sidecar create before any shared metadata is
    * touched; a lost race re-reads the head and retries (an append's
    * content is independent of the base generation — and while the base
    * is unmoved the staged data is reused, so waiting out a compaction
    * hold costs metadata reads, not batch rewrites), failing loudly
    * after [[ManifestTable.publishRetryMillis]] — never a silent lost
    * commit. */
  def commit(df: DataFrame, commitId: String): Boolean = {
    var attempt = 0
    val startedAt = System.currentTimeMillis()
    // Staged-attempt cache: while blocked behind a HELD generation (a
    // compaction reservation), the base does not move, so the already
    // written data directory and its collected stats are reused verbatim
    // — a blocked retry costs two tiny metadata reads, not a full batch
    // rewrite per attempt. Restaged only when the target generation moves
    // — and the invalidated attempt's directory is reclaimed right here
    // (the loser KNOWS it is dead; waiting for a sweep would accumulate
    // dead attempt dirs through every conflict-heavy period).
    var staged: Option[(Long, ManifestEntry)] = None
    def loseRace(next: Long, why: String): Unit = {
      lostRaceCount.incrementAndGet()
      attempt += 1
      val elapsed = System.currentTimeMillis() - startedAt
      if (elapsed >= publishRetryMillis) {
        // Reclaim the staged attempt before giving up — through the
        // provably-dead guard (a sibling replay may have published this
        // commitId meanwhile, referencing the same deterministic dir;
        // and a failed verification read must keep, not authorize).
        staged.foreach { case (g, _) => dropStagedIfDead(commitId, g) }
        throw new ConcurrentPublishException(
          s"commit '$commitId' to $tablePath lost the generation race for " +
            s"${elapsed / 1000}s across $attempt attempts (a publisher keeps " +
            "winning, or a dead reservation is inside its lease) — giving up")
      }
      log.info(s"commit '$commitId' to $tablePath $why — retrying from the " +
        "new head")
      publishBackoff(attempt)
    }
    while (true) {
      val gen = currentGeneration().getOrElse(0L)
      val entries = cachedEntriesAt(gen)
      if (entries.exists(_.commitId == commitId)) {
        // Completed by a sibling replay: reclaim our staged attempt
        // through the provably-dead guard (a sibling replaying the same
        // commitId at the same generation rewrites the SAME deterministic
        // dir — that one is live data; and history inside the retention
        // window may still reference an earlier staging).
        staged.foreach { case (g, _) => dropStagedIfDead(commitId, g) }
        return false
      }
      val next = gen + 1
      val dataDir = s"$tablePath/d-$commitId-g$next"
      val entry = staged match {
        case Some((g, e)) if g == next => e
        case _ =>
          staged.foreach { case (g, _) => dropStagedIfDead(commitId, g) }
          writeData(df, dataDir)
          val sized = listDataFilesSized(dataDir)
          val files = sized.map(_._1)
          if (failBeforePublish)
            throw new IllegalStateException(s"injected crash before publish of $commitId")
          val e = ManifestEntry(commitId, files, collectStats(dataDir, files),
            sized.map(_._2))
          staged = Some((next, e))
          e
      }
      beforeOwnHook()
      val nonce = newNonce()
      tryOwnGeneration(next, entry, rewrite = false, fresh = None,
        nonce) match {
        case Owned =>
          // The crash-simulation hook sits OUTSIDE the release scope: a
          // real death leaves its reservation behind (lease resolves it),
          // and so must the simulated one.
          maybeFailAfterOwn(commitId)
          afterOwnHook()
          var fenced = false
          try {
            // Full listing only at checkpoint generations (and always at
            // interval 1); the delta sidecar carries everything a between-
            // checkpoints read needs to reconstruct — O(commit) metadata
            // write instead of O(live files).
            if (checkpointInterval == 1 || next % checkpointInterval == 0) {
              // Ownership re-check at the last instant before the one
              // SHARED overwrite this path performs: a lease takeover
              // between our own and this write must not have its full
              // manifest clobbered (the takeover may already be
              // published). Losing here is a plain retry.
              if (!stillOwns(next, nonce)) {
                fencedPublishCount.incrementAndGet()
                fenced = true
              } else writeManifest(next, entries :+ entry, nonce)
            } else if (!stillOwns(next, nonce)) {
              // Ownership re-check before the DELETE below, mirroring the
              // checkpoint branch's guard: a publisher paused past the
              // lease between its own and this point may find a takeover
              // (a merge or compaction writes a full manifest at EVERY
              // generation) already PUBLISHED here — deleting that
              // manifest as an "orphan" would destroy a committed rewrite
              // generation that delta reconstruction cannot recover.
              // Losing here is the same fenced retry as the swap's.
              fencedPublishCount.incrementAndGet()
              fenced = true
            } else {
              // A CRASHED PRE-r18 publisher at this same generation may
              // have left an orphan LEGACY (unsuffixed) full manifest
              // (we own the generation now, so it can only be a dead
              // attempt's; r18 attempts write owner-suffixed objects
              // that resolution never consults without a matching
              // sidecar). The legacy fallback in resolution means a
              // delta-only commit must still remove it, and
              // the deletion must be VERIFIED: proceeding past a failed
              // delete would let the aborted listing shadow this commit's
              // sidecar — wrong reads AND a sweep computing liveness from
              // the aborted file set (data loss). Fail the commit instead;
              // the crash-replay contract retries it. (The check-to-delete
              // instant above is the same irreducible lease-guarded window
              // every shared overwrite in this protocol carries.)
              val (mfs, mp) = fsOf(manifestPath(next))
              if (mfs.exists(mp)) require(mfs.delete(mp, false) || !mfs.exists(mp),
                s"could not remove orphan manifest $mp left by a crashed " +
                  "publisher — refusing to publish a sidecar it would shadow")
              // (Pre-sidecar readers are gated out by the owner-frame pointer
              // frame every publish writes — see [[publish]].)
            }
            if (!fenced) {
              publishOwned(next, commitId, nonce, entry,
                rewrite = false, fresh = None)
              entriesCache = Some((next, entries :+ entry))
              return true
            }
          } catch {
            case _: ConcurrentPublishException =>
              // Fenced at (or after) the swap: this attempt's content did
              // not survive a takeover — the SAME outcome as losing the
              // own race, handled by the same retry loop. The staged data
              // belongs to the lost generation; the restage path reclaims
              // it when the head moves.
              fenced = true
            case scala.util.control.NonFatal(e) =>
              // A LIVE publisher whose post-own step failed (manifest IO,
              // verified-delete refusal) must not hold every other writer
              // hostage for the lease: release the unpublished
              // reservation, then surface the failure.
              tryReleaseReservation(next, nonce)
              throw e
          }
          if (fenced) loseRace(next, s"was fenced off generation $next by a " +
            "lease takeover")
        case AlreadyPublishedByUs =>
          // A sibling process replaying this commitId finished it between
          // our idempotency check and the own attempt: loop — the check
          // at the top now sees the commitId and returns false.
          ()
        case OwnConflict =>
          loseRace(next, s"lost generation $next to a concurrent publisher")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Replace the WHOLE table with `df` under `commitId` (compaction): new
    * manifest references only the replacement; prior generations' files
    * become invisible immediately and sweepable later.
    *
    * CONCURRENCY: a lost generation race throws
    * [[ConcurrentPublishException]] rather than retrying — `df` was
    * derived from the pre-race table state (typically `read()`, whose
    * file list froze at plan time), so republishing it would silently
    * DROP the concurrent winner's rows from the table. Use
    * [[replaceAllRetrying]] with a re-deriving thunk when the caller is a
    * compactor running beside live writers. */
  def replaceAll(df: DataFrame, commitId: String): Unit = {
    val gen = currentGeneration().getOrElse(0L)
    // Rewrite iff prior files actually leave the manifest — a replaceAll
    // into an EMPTY table is a plain first append to the changefeed (the
    // same file-level criterion the fallback diff applies).
    val hadFiles = gen > 0 && cachedEntriesAt(gen).exists(_.files.nonEmpty)
    val next = gen + 1
    val dataDir = s"$tablePath/d-$commitId-g$next"
    writeData(df, dataDir)
    val sized = listDataFilesSized(dataDir)
    val files = sized.map(_._1)
    if (failBeforePublish)
      throw new IllegalStateException(s"injected crash before publish of $commitId")
    val entry = ManifestEntry(commitId, files, collectStats(dataDir, files),
      sized.map(_._2))
    beforeOwnHook()
    // A replaceAll is contents-preserving by contract (compaction), so
    // its rewrite carries NOTHING fresh — recorded explicitly (Some(Nil),
    // not None/unknown) so emitFresh subscribers ride through it silently
    // exactly like skip does.
    val nonce = newNonce()
    tryOwnGeneration(next, entry, rewrite = hadFiles,
      fresh = if (hadFiles) Some(Seq.empty) else None, nonce) match {
      case Owned =>
        try {
          writeManifest(next, Seq(entry), nonce)
          publishOwned(next, commitId, nonce, entry, rewrite = hadFiles,
            fresh = if (hadFiles) Some(Seq.empty) else None)
          entriesCache = Some((next, Seq(entry)))
        } catch {
          case scala.util.control.NonFatal(e) =>
            // Release the unpublished reservation (no-op if a takeover
            // already holds it) so one failed compaction doesn't block
            // every writer for the lease, then surface the failure — a
            // fenced publish here has the same stale-input meaning as a
            // lost own race.
            tryReleaseReservation(next, nonce)
            throw e
        }
      case AlreadyPublishedByUs => () // sibling replay finished this commit
      case OwnConflict =>
        lostRaceCount.incrementAndGet()
        dropStagedIfDead(commitId, next)
        throw new ConcurrentPublishException(
          s"replaceAll '$commitId' on $tablePath lost generation $next to a " +
            "concurrent publisher — its input snapshot is stale; re-derive " +
            "the replacement from the new head (replaceAllRetrying does this)")
    }
  }

  /** [[replaceAll]] for compactors running BESIDE live writers — what
    * lets compaction drop the stop-serve/compact/restart discipline.
    *
    * RESERVE-FIRST: the next generation's sidecar is exclusive-created as
    * a placeholder BEFORE the replacement is derived, then overwritten
    * with the real content (we own it) at publish. Holding the lock
    * through the derivation freezes the base generation — `mkDf` (pass a
    * thunk like `() => clustered(read())`) reads a head no concurrent
    * publisher can move — and makes the compactor's termination
    * independent of writer traffic: the loser-recomputes alternative
    * starves when merges land faster than the replacement derives (the
    * derivation is table-sized, a merge is batch-sized — the merge always
    * wins that race). Cost lands on the writers instead: their
    * commit/merge retry loops back off until the publish (their
    * time-based `graft.publish.retryMs` budget defaults to the lease plus
    * a minute, which outlives any hold that resolves). A compactor CRASH
    * mid-hold stalls them only for the SHORT heartbeating lease
    * ([[ManifestTable.escalationLeaseMillis]], ~30 s): the reservation
    * advertises it and a daemon beat re-arms it while the derivation
    * lives — the long-OPTIMIZE-crash trade Delta makes is paid here as
    * one tiny marker object per attempt instead. A retention sweep
    * running BESIDE this call sees the reservation's in-flight data
    * directory as unreferenced for the whole derivation, so its
    * `minAgeMillis` must comfortably exceed the longest compaction (the
    * same beside-writer contract [[sweepOrphans]] documents, with a
    * longer window). */
  def replaceAllRetrying(mkDf: () => DataFrame, commitId: String): Unit = {
    var attempt = 0
    val startedAt = System.currentTimeMillis()
    while (true) {
      val gen = currentGeneration().getOrElse(0L)
      val next = gen + 1
      beforeOwnHook()
      val placeholder = ManifestEntry(commitId, Seq.empty, Seq.empty)
      var lostMidDerivation = false
      val nonce = newNonce()
      // The compactor's reservation advertises the SHORT heartbeating
      // lease too (same machinery as the escalated merge): a live
      // replacement of any length keeps re-arming it, while a CRASH
      // mid-compaction stalls every publisher for seconds instead of
      // the full publish lease — the maintenance path used to be the
      // documented minutes-long-stall trade, now closed for the cost of
      // one marker object per attempt.
      val hbLease = ManifestTable.escalationLeaseMillis
      val placeholderBytes = deltaJson(placeholder, rewrite = true,
        fresh = Some(Seq.empty), Some(nonce), Some(hbLease))
        .getBytes("UTF-8")
      tryOwnGeneration(next, placeholder, rewrite = true,
        fresh = Some(Seq.empty), nonce,
        leaseMillis = Some(hbLease)) match {
        case Owned =>
          // Crash-simulation hook OUTSIDE the cleanup scope: a real death
          // leaves its reservation behind (resolved by the lease), and so
          // must the simulated one.
          maybeFailAfterOwn(commitId)
          var published = false
          val stopHeartbeat =
            startReservationHeartbeat(next, nonce, hbLease)
          try {
            // Base `gen` is frozen while we hold `next`: derive + stage.
            val hadFiles = gen > 0 && cachedEntriesAt(gen).exists(_.files.nonEmpty)
            val dataDir = s"$tablePath/d-$commitId-g$next"
            writeData(mkDf(), dataDir)
            val sized = listDataFilesSized(dataDir)
            val files = sized.map(_._1)
            if (failBeforePublish) throw new IllegalStateException(
              s"injected crash before publish of $commitId")
            val entry = ManifestEntry(commitId, files,
              collectStats(dataDir, files), sized.map(_._2))
            // RE-VERIFY ownership (by NONCE) before touching shared
            // metadata: a derivation that outlived the publish lease may
            // have had its reservation taken over (and the generation
            // published) by a waiting writer — blindly overwriting the
            // sidecar + manifest here would ERASE that winner's commit
            // while both callers report success. Losing the takeover is
            // the safe outcome: re-derive at the new head. The
            // check-then-write instant that remains on PLAIN stores: a
            // takeover landing between this check and the writes below
            // is resolved loudly by [[publishOwned]]'s pointer
            // arbitration when the winner has not yet published; a
            // winner whose ENTIRE tail fits inside the instant can still
            // have its published metadata blind-overwritten here — the
            // documented residual window (class doc), sized against by
            // the lease and heartbeat. On a CONDITIONAL-WRITE store the
            // swap below CASes against our placeholder bytes, so that
            // window does not exist at all — the takeover's record
            // refuses our late swap at the store.
            if (!stillOwns(next, nonce)) {
              lostMidDerivation = true
            } else if (!writeDeltaIfMatch(next, entry, rewrite = hadFiles,
                fresh = if (hadFiles) Some(Seq.empty) else None,
                owner = Some(nonce), expected = placeholderBytes)) {
              // Conditional store refused the placeholder→record swap: a
              // takeover landed in the check-to-write instant. Zero
              // damage written — same outcome as losing the reservation
              // mid-derivation.
              lostMidDerivation = true
            } else {
              // Placeholder replaced with the real record (owned, same
              // nonce; CAS on conditional stores), then manifest +
              // pointer — same tail as every publish path.
              writeManifest(next, Seq(entry), nonce)
              publishOwned(next, commitId, nonce, entry,
                rewrite = hadFiles,
                fresh = if (hadFiles) Some(Seq.empty) else None)
              entriesCache = Some((next, Seq(entry)))
              published = true
            }
          } catch {
            case _: ConcurrentPublishException =>
              // Fenced at the swap (takeover landed in the
              // check-to-write instant): same outcome as losing the
              // reservation mid-derivation — re-derive at the new head.
              lostMidDerivation = true
            case scala.util.control.NonFatal(e) =>
              // A LIVE publisher whose derivation failed must not hold
              // every other writer hostage for the lease: release the
              // unpublished reservation, then surface the failure.
              tryReleaseReservation(next, nonce)
              throw e
          } finally stopHeartbeat()
          if (published) return
          if (lostMidDerivation) {
            // The derived replacement was staged for the lost generation:
            // reclaim it now — UNLESS the new holder is a sibling replay
            // of this same commitId, whose deterministic directory is the
            // very same path (deleting it would race the sibling's own
            // staging; a foreign winner's metadata references nothing
            // under our commitId-named directory).
            fencedPublishCount.incrementAndGet()
            dropStagedIfDead(commitId, next)
          }
        case AlreadyPublishedByUs => return // sibling replay finished it
        case OwnConflict => lostRaceCount.incrementAndGet()
      }
      attempt += 1
      val elapsed = System.currentTimeMillis() - startedAt
      if (elapsed >= publishRetryMillis) throw new ConcurrentPublishException(
        s"replaceAll '$commitId' on $tablePath could not reserve-and-publish " +
          s"for ${elapsed / 1000}s across $attempt attempts — giving up")
      log.info(s"replaceAll '$commitId' on $tablePath " +
        (if (lostMidDerivation)
          s"lost its reservation of generation $next mid-derivation (lease takeover)"
         else s"lost generation $next to a concurrent publisher") +
        " — re-reserving at the new head")
      publishBackoff(attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run `body` with adaptive query execution scoped OFF — for the
    * protocol's METADATA-SIZED statements only (an aggregate collapsing to
    * one row per file / a single count / a micro-batch-bounded key
    * collect), where AQE has nothing to re-plan and its per-stage job
    * materialization only adds driver round-trips — the dominant cost of
    * a small commit. AQE is a pure optimization for any concurrent
    * planner that happens to land inside the window, so the scoping is
    * semantically safe — but the set/restore pair itself must be
    * DEPTH-COUNTED per session ([[ManifestTable.aqeScopeOff]]): two
    * overlapping naive scopes would capture each other's "false" as the
    * previous value and leave AQE disabled for the session's lifetime
    * (ingestion runs maintenance threads beside commits). NEVER use this
    * around the data-sized derivation statements (winners argmax,
    * rewrites) — those want AQE's coalescing and skew handling at
    * scale. */
  private def withAqeOff[T](body: => T): T =
    ManifestTable.aqeScopeOff(spark)(body)

  /** Per-file min/max of `statsCols` for a just-written commit directory —
    * the manifest-side data-skipping index (the Delta/Iceberg per-file
    * stats pattern). One extra column-pruned scan of the files this commit
    * wrote (footer + statsCols pages only); a production writer folds this
    * into the write task itself, which is exactly what Delta's commit
    * protocol does — the stats' CONTENT and placement (inside the manifest,
    * atomically published with the pointer swap) are the same either way.
    * Empty when the instance declares no statsCols. */
  private def collectStats(
      dataDir: String,
      files: Seq[String]): Seq[Map[String, (StatVal, StatVal)]] = {
    if (statsCols.isEmpty || files.isEmpty)
      return files.map(_ => Map.empty[String, (StatVal, StatVal)])
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = partitionCol match {
      case Some(_) =>
        spark.read.option("basePath", dataDir).schema(schema).parquet(dataDir)
      case None => spark.read.schema(schema).parquet(dataDir)
    }
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // AQE scoped OFF for this one statement: its output is one row per
    // file at ANY scale (the partial agg collapses everything map-side),
    // so adaptive re-planning has nothing to optimize — it only splits
    // the statement into one Spark job per stage, and the extra driver
    // round-trip is the dominant cost of a small commit (measured: 3
    // jobs per commit, 2 of them this read-back).
    val rows = withAqeOff {
      base
        .groupBy(input_file_name().as("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    }
    val rootPrefix = fsOf(tablePath)._2.toUri.getPath
    val byRel: Map[String, Map[String, (StatVal, StatVal)]] = rows.map { r =>
      val rel = new Path(new java.net.URI(r.getAs[String]("_file")))
        .toUri.getPath.stripPrefix(rootPrefix).stripPrefix("/")
      val bounds = statsCols.flatMap { c =>
        (Option(r.getAs[Any](s"min_$c")), Option(r.getAs[Any](s"max_$c"))) match {
          case (Some(lo), Some(hi)) => Some(c -> (toStatVal(lo), toStatVal(hi)))
          case _ => None // all-null column in this file: no bounds, never pruned on it
        }
      }.toMap
      rel -> bounds
    }.toMap
    files.map(f => byRel.getOrElse(f, Map.empty))
  }

  // ----------------------------------------------------------------- read

  /** The table as of the current generation — only manifested files.
    *
    * One scan, whatever the number of live commits: [[scanOf]] plans the
    * manifested files as a single file-source relation whose file index
    * comes from the manifest itself. With `partitionCol` set the data
    * files carry the column only in their `col=value/` directory names;
    * the index takes each file's partition value from that path segment,
    * so a predicate on `partitionCol` still prunes whole directories
    * (PartitionFilters) exactly like the rename-protocol layout.
    * Compaction ([[replaceAll]]) shrinks the FILE count, not the number
    * of scans — there is only ever one. */
  def read(): DataFrame =
    currentGeneration().map(readAt).getOrElse(emptyDf)

  /** TIME-TRAVEL read: the table exactly as of generation `gen` — every
    * commit the `m-<gen>` manifest references, nothing later. Manifests
    * are never deleted (small metadata), so any historical generation
    * resolves; its DATA remains readable until [[sweepOrphans]] reclaims
    * directories outside its retention window — the same contract as
    * Delta/Iceberg time travel vs VACUUM. Reading a swept generation
    * fails on the missing files rather than returning partial data. */
  def readAt(gen: Long): DataFrame = {
    require(gen >= 0, s"negative generation $gen")
    // A generation that never existed must fail loudly, not read as an
    // empty table: gen 0 is the only legitimately empty generation
    // (pre-first-commit), and manifests are never deleted, so a missing
    // m-<gen> for any other requested generation means the caller's gen is
    // a typo / beyond the pointer — or the metadata dir is damaged.
    if (gen > 0) {
      // A generation EXISTS iff it is at or below the published pointer —
      // a bare file-existence test would also accept an orphan sidecar
      // or manifest from a crashed, never-published attempt one past the
      // head (returning uncommitted rows). Artifact damage INSIDE the
      // pointer range is caught loudly by manifestEntriesFull itself
      // (published-but-artifactless throws there), so no extra existence
      // probes here — they would just double the metadata round trips on
      // the hot read path.
      val cur = currentGeneration().getOrElse(0L)
      require(gen <= cur, s"generation $gen does not exist (current: $cur)")
    }
    val entries = manifestEntriesFull(gen)
    scanOf(entries.flatMap(_.files), sizesOf(entries))
  }

  /** THE manifest scan: one file-source relation over an explicit
    * relative-file list, planned without listing the store. The file
    * index is built from the manifest — each file's status from its
    * recorded byte size (`sizes`), served through a pre-filled status
    * cache, and the partition spec from each file's `col=value` path
    * segment — so planning makes no list or status call for a file whose
    * size is known. A file missing from `sizes` (pre-bytes manifest
    * entries, or a caller holding bare names) costs one status call.
    * Every reader goes through here: [[readAt]], [[readPruned]], the
    * merge's matched-file scan and the changefeed's per-commit scans. */
  private[graft] def scanOf(rel: Seq[String],
      sizes: Map[String, Long] = Map.empty): DataFrame =
    if (rel.isEmpty) emptyDf
    else {
      import org.apache.spark.sql.execution.datasources._
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val (fs, root) = fsOf(tablePath)
      val base = fs.makeQualified(root)
      val statuses = rel.distinct.map { f =>
        val p = new Path(base, f)
        sizes.get(f) match {
          case Some(len) =>
            new FileStatus(len, false, 1, fs.getDefaultBlockSize(p), 0L, p)
          case None => fs.getFileStatus(p)
        }
      }
      // The files themselves are the index's root paths: an
      // InMemoryFileIndex compares equal by its root-path set, and the
      // cache manager and exchange reuse match scans through that
      // equality — two scans over different files of one directory must
      // never compare equal.
      val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
      val dirs = statuses.map(_.getPath.getParent).distinct.sortBy(_.toString)
      // Nullable, as every Spark file source reads: the files' own
      // schema, not the declared one, decides whether a value is null.
      val (partSchema, dataSchema) =
        schema.map(_.copy(nullable = true))
          .partition(f => partitionCol.contains(f.name)) match {
          case (p, d) => (StructType(p), StructType(d))
        }
      val spec = partitionCol match {
        case None => PartitionSpec.emptySpec
        case Some(pc) =>
          val dt = partSchema.head.dataType
          PartitionSpec(partSchema, dirs.map { d =>
            val raw = d.getName.stripPrefix(s"$pc=")
            require(raw != d.getName,
              s"manifested file under $d carries no $pc=<value> directory")
            val v = ExternalCatalogUtils.unescapePathName(raw)
            val value =
              if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
              else org.apache.spark.sql.catalyst.expressions.Cast(
                org.apache.spark.sql.catalyst.expressions.Literal(v), dt).eval()
            PartitionPath(
              org.apache.spark.sql.catalyst.InternalRow(value), d)
          })
      }
      val cache = new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
          byPath.get(path)
        override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, statuses.map(_.getPath),
        Map.empty, Some(schema), cache, Some(spec))
      val relation = HadoopFsRelation(index, partSchema, dataSchema,
        None, new parquet.ParquetFileFormat, Map.empty)(spark)
      spark.baseRelationToDataFrame(relation)
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    }

  /** DATA-SKIPPING read: the current generation restricted to files whose
    * manifest bounds can satisfy `filters` — the file list is pruned on the
    * DRIVER from manifest metadata alone, before Spark ever lists, opens,
    * or footer-reads a file. This is the Iceberg/Delta manifest-stats scan:
    * at a micro-batch cadence the table accretes ~86k files/day, and at
    * 100 TB the per-file open+footer round trips dominate point-read cost
    * long before row-group stats (which need the footer in hand) get their
    * turn. Bounds are conservative: a file with no recorded bounds for a
    * filtered column always survives, so the result ALWAYS equals
    * `read().filter(<the same predicates>)` — callers must still apply the
    * Catalyst predicates; pruning only shrinks the scan. */
  def readPruned(filters: Seq[StatsFilter]): DataFrame =
    currentGeneration() match {
      case None => emptyDf
      case Some(gen) =>
        val entries = manifestEntriesFull(gen)
        scanOf(survivingFiles(entries, filters), sizesOf(entries))
    }

  /** (surviving, total) file counts for `filters` — the pruning
    * instrument probes and specs read. */
  def pruneCounts(filters: Seq[StatsFilter]): (Int, Int) =
    currentGeneration() match {
      case None => (0, 0)
      case Some(gen) =>
        val entries = manifestEntriesFull(gen)
        (survivingFiles(entries, filters).size, entries.map(_.files.size).sum)
    }

  private def survivingFiles(entries: Seq[ManifestEntry],
      filters: Seq[StatsFilter]): Seq[String] =
    entries.flatMap { e =>
      e.files.zip(e.stats).collect {
        case (f, st) if filters.forall(survives(st, _)) => f
      }
    }

  private def emptyDf: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  // ---------------------------------------------------------------- merge

  /** COPY-ON-WRITE MERGE (the Delta/Iceberg MERGE INTO shape, driven by
    * manifest stats): apply `updates` — one row per key, last-write-wins
    * by `orderCol`, rows flagged `deleteCol` remove the key — rewriting
    * ONLY the files whose manifest bounds can contain a touched key.
    *
    * Per-key semantics (exactly the temporal read's argmax, so a
    * materialized state table maintained by repeated merges IS
    * `readTabletAt` at each step):
    *
    *   winner(key) = argmax over (existing ∪ updates) by
    *                 (orderCol, updates-side wins ties);
    *   winner flagged `deleteCol` → key absent from the result.
    *
    * That argmax form (rather than blind replace) makes the merge
    * IDEMPOTENT: re-merging the same batch after a crash replay — even
    * under a different commitId — changes nothing, the property a
    * `foreachBatch` consumer needs, since the engine re-runs the last
    * uncommitted batch on restart. A repeated `commitId` also skips
    * outright (same crash-replay contract as [[commit]]).
    *
    * TOMBSTONE RETENTION (`keepTombstones`): with the default `false`, a
    * winning delete physically removes the key — after which the argmax
    * has nothing to compare against, so a LATER merge redelivering a
    * mutation BELOW the applied delete's height would revive the key.
    * That is safe when merges arrive in order (the changefeed delivers
    * each commit once, heights monotone — the materializer's shape) and
    * matches Delta-MERGE semantics; a caller merging from an
    * out-of-order or at-least-once source must pass `true`, which keeps
    * winning tombstones as physical rows (filter `deleteCol` on read)
    * so the height guard survives delete→redeliver.
    *
    * Scale shape: the touched-key set is COLLECTED to the driver — this
    * is a micro-batch-sized set by contract (document per caller), the
    * same driver-side budget the engine's other bounded collects keep.
    * File matching is then pure manifest metadata: a file is rewritten
    * iff some touched key lies inside its per-column bounds box
    * (conservative: a file with no recorded bounds always matches).
    * Untouched files carry into the new generation VERBATIM — same
    * relative path, same stats, original commitId — so merge cost is
    * O(files containing touched keys + batch), never O(table). Under a
    * z-ordered or compacted layout point updates touch few files; the
    * spec pins both exactness and rewrite minimality.
    *
    * CHANGEFEED interaction: a merge generation drops/changes prior
    * commit entries, so a [[graft.streaming.ManifestChangefeed]] reader
    * of THIS table sees it as a rewrite (skipped under the default
    * `onRewrite = skip`, fatal under `fail`). Merge targets are serving
    * tables; subscribe to the upstream mutation log, not the
    * materialization. */
  def merge(
      updates: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      deleteCol: String,
      commitId: String,
      keepTombstones: Boolean = false,
      maxTouchedKeys: Long = ManifestTable.mergeMaxTouchedKeys,
      freshRowsPerFile: Long = ManifestTable.mergeFreshRowsPerFile): MergeReport = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    require(freshRowsPerFile > 0,
      s"freshRowsPerFile must be positive, got $freshRowsPerFile")
    // Optimistic-concurrency loop. A merge's derivation (matched files,
    // argmax winners, fresh split) depends on the base generation, but a
    // lost race does NOT automatically recompute it: the staged attempt
    // is RETAINED and rebased onto the new head when every generation
    // that landed since is provably disjoint ([[rebaseStagedMerge]]) —
    // two metadata reads and a re-own instead of re-running the whole
    // derivation. Only an overlapping or matched-file-rewriting
    // intervener forces the recompute, whose argmax then includes the
    // winner's rows — the serializable merge-after-their-commit outcome
    // either way. While the next generation is RESERVED by a live
    // foreign publisher (a compaction hold), the cheap probe skips the
    // attempt entirely: the base cannot move until the hold resolves.
    var attempt = 0
    val startedAt = System.currentTimeMillis()
    var staged: Option[StagedMerge] = None
    var lastBlocked = false
    // Set once a derivation is invalidated past rebasing: the next
    // recompute runs under a reservation (see the escalation block).
    var escalate = false
    // Touched keys, driver-side, collected ONCE per merge call (they
    // depend only on the update batch, never on the head, so retries and
    // recomputes reuse them — one Spark job saved per lost race).
    // Micro-batch-bounded by contract — and the contract is ENFORCED,
    // not just documented: the collect itself is limited to budget+1
    // rows, so an accidental table-sized update batch fails loudly
    // (pointing at replaceAll) instead of OOMing the driver. Same
    // posture as the GRAFT_EMBED_EXACT_MAX_ROWS guard. Clamp BEFORE the
    // +1: a Long.MaxValue "disable the cap" override must not overflow
    // into limit(0) and silently drop the batch.
    val maxKeys = math.min(maxTouchedKeys, Int.MaxValue.toLong - 1)
    val keyRows = withAqeOff {
      // Micro-batch-bounded by the enforced contract below — AQE's
      // per-stage jobs only add round-trips to a statement this small.
      import org.apache.spark.sql.functions.col
      updates.select(keyCols.map(col): _*).distinct()
        .limit((maxKeys + 1).toInt).collect()
    }
    if (keyRows.length > maxKeys) throw new IllegalArgumentException(
      s"merge '$commitId' touches more than $maxKeys distinct keys — the " +
        "touched-key set is collected to the driver and must stay " +
        "micro-batch-sized. Use replaceAll for table-sized updates, or " +
        "raise GRAFT_MERGE_MAX_TOUCHED_KEYS deliberately.")
    val keyTuples: Array[Array[StatVal]] =
      keyRows.map(r => keyCols.indices.map(i => toStatVal(r.get(i))).toArray)
    try {
      while (true) {
        val head = currentGeneration().getOrElse(0L)
        val next = head + 1
        lastBlocked = heldByForeign(next, commitId)
        if (!lastBlocked) {
          val headEntries = cachedEntriesAt(head)
          if (headEntries.exists(_.commitId == commitId)) {
            // A sibling replay of this commitId published it first: an
            // idempotent skip. Our own retained attempt (if any) is dead
            // — reclaim it (the guard keeps it if anything could still
            // reference it).
            staged.foreach(s => dropStagedIfDead(commitId, s.stagedGen))
            staged = None
            return MergeReport(rewritten = 0,
              kept = headEntries.map(_.files.size).sum, applied = false)
          }
          staged match {
            case Some(s) if s.baseGen != head =>
              rebaseStagedMerge(s, head, headEntries, keyCols) match {
                case Some(rebased) =>
                  rebasedMergeCount.incrementAndGet()
                  log.info(s"merge '$commitId' into $tablePath rebased its " +
                    s"staged attempt from generation ${s.baseGen} onto $head " +
                    "(landed changes disjoint from the touched keys)")
                  staged = Some(rebased)
                case None =>
                  log.info(s"merge '$commitId' into $tablePath cannot rebase " +
                    s"onto generation $head (overlapping keys, or a matched " +
                    "file was rewritten) — recomputing under a reservation")
                  dropStagedIfDead(commitId, s.stagedGen)
                  staged = None
                  escalate = true
              }
            case _ => ()
          }
          if (keyRows.isEmpty)
            return MergeReport(0, headEntries.map(_.files.size).sum,
              applied = false)
          if (staged.isEmpty && escalate) {
            // LOSS ESCALATION: this merge already paid a full derivation
            // that a racing publisher invalidated past rebasing
            // (typically a compaction rewriting its matched files).
            // Deriving optimistically AGAIN invites a spiral: under a
            // compactor cadence shorter than the derivation time, every
            // recompute loses to the next compaction — each loss handled
            // "correctly", the materializer's lag growing without bound
            // (observed end-to-end in the round-18 contention soak once
            // host slowdown pushed derivations past the 5 s compactor
            // interval). So the recompute runs under a RESERVATION — the
            // same placeholder own [[replaceAllRetrying]] uses: the base
            // is frozen while we hold the generation, foreign publishers
            // wait out the hold (their heldByForeign probe), and the
            // derivation cannot lose. Total derivations are bounded at
            // two (modulo lease expiry on a stalled one). The crash cost
            // is NOT the compactor's: the reservation advertises the
            // SHORT escalation lease and HEARTBEATS it while the
            // derivation runs — by overwriting its own ATTEMPT-UNIQUE
            // marker object (hb-<gen>.<nonce>, every lease/3; the
            // takeover clock reads max(sidecar mtime, marker mtime)) —
            // so a death mid-derivation stalls foreign publishers for
            // seconds, not the crash-sized global lease the 1 Hz serving
            // path cannot afford; a LIVE failure still releases the
            // reservation eagerly. The marker is attempt-unique ON
            // PURPOSE: a heartbeat never writes SHARED metadata, so a
            // stale holder frozen for any length can never clobber a
            // takeover winner's record the way a sidecar-rewriting
            // heartbeat could (an unfenced check-to-write pair executed
            // hundreds of times per derivation would dominate the
            // TOCTOU exposure). The uncontended path never pays any of
            // this.
            val nonce = newNonce()
            val placeholder = ManifestEntry(commitId, Seq.empty, Seq.empty)
            val hbLease = ManifestTable.escalationLeaseMillis
            // The exact bytes every Owned path of tryOwnGeneration wrote
            // for this reservation — the conditional store's If-Match
            // precondition for the tail's placeholder→record swap.
            val placeholderBytes = deltaJson(placeholder, rewrite = true,
              fresh = Some(Seq.empty), Some(nonce), Some(hbLease))
              .getBytes("UTF-8")
            beforeOwnHook()
            tryOwnGeneration(next, placeholder, rewrite = true,
              fresh = Some(Seq.empty), nonce,
              leaseMillis = Some(hbLease)) match {
              case Owned =>
                maybeFailAfterOwn(commitId)
                var published: Option[MergeReport] = None
                try {
                  escalatedMergeCount.incrementAndGet()
                  val stopHeartbeat =
                    startReservationHeartbeat(next, nonce, hbLease)
                  // The heartbeat stays alive through the PUBLISH TAIL
                  // (stillOwns → writeDelta → manifest → pointer), not
                  // just the derivation: the marker write never touches
                  // shared metadata (attempt-unique hb-<gen>.<nonce>),
                  // so a beat during the tail is harmless — but
                  // deleting the marker BEFORE the tail would drop the
                  // takeover clock back to the placeholder sidecar's
                  // mtime (derivation start). For a derivation longer
                  // than the lease that reads as already-expired, and a
                  // heldByForeign-polling contender could legally take
                  // over in exactly the window where our shared writes
                  // are in flight — the stall/clobber the heartbeat
                  // exists to prevent. Stop + join (which reclaims the
                  // marker) happens in the finally below, AFTER
                  // publishOwned; past the pointer swap the marker is
                  // inert (the age clock only consults reservations).
                  // UNBOUNDED join deliberately: an FS slow enough to
                  // strand the heartbeat thread would strand the tail's
                  // own writes anyway, so the wait adds no failure mode.
                  try {
                    duringEscalatedDeriveHook()
                    val s = deriveMerge(head, headEntries, updates,
                      keyTuples, keyCols, orderCol, deleteCol, commitId,
                      keepTombstones, freshRowsPerFile)
                    staged = Some(s)
                    beforeEscalatedTailHook()
                    if (!stillOwns(next, nonce)) {
                      // Reservation lost mid-derivation (the derivation
                      // outlived the lease despite heartbeats — e.g. a
                      // host freeze): the staged attempt is retained
                      // for a rebase at the new head.
                      fencedPublishCount.incrementAndGet()
                    } else {
                      val keptEntries =
                        entriesWithout(headEntries, s.matchedFiles.toSet)
                      // Replace the placeholder with the real record
                      // (owned, same nonce), then manifest + pointer — the
                      // same tail as every publish path. On a
                      // conditional-write store the swap CASes against
                      // the placeholder bytes: a takeover in the
                      // check-to-write instant REFUSES it at the store —
                      // the TOCTOU family closed outright, zero damage.
                      beforeEscalatedSwapHook()
                      // Both throw sites below leave the fenced COUNT to
                      // the outer ConcurrentPublishException catch — an
                      // increment here would double-count one fencing
                      // event and make the metric's unit inconsistent
                      // with the stillOwns-detected loss (counted once).
                      if (!writeDeltaIfMatch(next, s.entry,
                          rewrite = s.rewrite,
                          fresh = if (s.rewrite) Some(s.freshFiles) else None,
                          owner = Some(nonce), expected = placeholderBytes)) {
                        throw new ConcurrentPublishException(
                          s"generation $next of $tablePath was taken over " +
                            "in the check-to-write instant — the store's " +
                            "conditional replace refused the placeholder " +
                            "swap (no damage written); retrying at the " +
                            "next generation")
                      }
                      // Published re-check AFTER the sidecar replacement:
                      // a process freeze longer than the escalation lease
                      // inside the stillOwns-to-write instant above lets a
                      // takeover publish this generation before our write
                      // lands (the documented mtime-lease TOCTOU). If that
                      // happened, do NOT compound the sidecar damage with
                      // a manifest object — an owned manifest here would
                      // RESOLVE (the clobbered sidecar names us) and turn
                      // detectable damage (verifyHead) into a readable
                      // shadow. Throw instead; the loop reconciles at the
                      // new head.
                      if (currentGeneration().exists(_ >= next)) {
                        throw new ConcurrentPublishException(
                          s"generation $next of $tablePath was published by " +
                            "a takeover in the check-to-write instant — this " +
                            "attempt's record landed late (head-check " +
                            "detectable while head); retrying at the next " +
                            "generation")
                      }
                      writeManifest(next, keptEntries :+ s.entry, nonce)
                      publishOwned(next, commitId, nonce, s.entry,
                        rewrite = s.rewrite,
                        fresh = if (s.rewrite) Some(s.freshFiles) else None)
                      entriesCache = Some((next, keptEntries :+ s.entry))
                      published = Some(MergeReport(
                        rewritten = s.matchedFiles.size,
                        kept = keptEntries.map(_.files.size).sum,
                        applied = true))
                    }
                  } finally stopHeartbeat()
                } catch {
                  case _: ConcurrentPublishException =>
                    // Fenced at the swap (takeover in the check-to-write
                    // instant): retained for a rebase, loop reconciles.
                    fencedPublishCount.incrementAndGet()
                  case scala.util.control.NonFatal(e) =>
                    // LIVE failure must not hold other writers hostage
                    // for the lease.
                    tryReleaseReservation(next, nonce)
                    throw e
                }
                published.foreach { r =>
                  staged = None
                  return r
                }
              case AlreadyPublishedByUs =>
                // A sibling replay finished this commitId mid-escalation.
                return MergeReport(rewritten = 0,
                  kept = cachedEntriesAt(currentGeneration().getOrElse(0L))
                    .map(_.files.size).sum,
                  applied = false)
              case OwnConflict =>
                lostRaceCount.incrementAndGet()
            }
          } else {
            if (staged.isEmpty)
              staged = Some(deriveMerge(head, headEntries, updates, keyTuples,
                keyCols, orderCol, deleteCol, commitId, keepTombstones,
                freshRowsPerFile))
            publishStagedMerge(staged.get, next, headEntries, commitId) match {
              case Some(report) =>
                staged = None
                return report
              case None => () // lost/fenced: retained for a rebase attempt
            }
          }
        }
        attempt += 1
        val elapsed = System.currentTimeMillis() - startedAt
        if (elapsed >= publishRetryMillis) throw new ConcurrentPublishException(
          s"merge '$commitId' into $tablePath lost the generation race for " +
            s"${elapsed / 1000}s across $attempt attempts (a publisher keeps " +
            "winning, or a dead reservation is inside its lease) — giving up")
        log.info(s"merge '$commitId' into $tablePath " +
          (if (lastBlocked) "is waiting out a held generation reservation"
           else "lost a generation race — reconciling with the new head"))
        publishBackoff(attempt)
      }
      throw new IllegalStateException("unreachable")
    } finally {
      // Give-up (retry budget exhausted) or a propagated failure:
      // best-effort reclaim of the retained attempt. The guard refuses
      // while the generation is unpublished or anything references the
      // directory; the age-gated sweep collects what it keeps.
      staged.foreach(s => dropStagedIfDead(commitId, s.stagedGen))
    }
  }

  /** Does a file whose per-column bounds are `bounds` possibly contain
    * any touched key? Conservative in both directions a merge needs: no
    * recorded bounds always matches, and bounds are true min/max so an
    * exclusion is definitive. The ONE matcher for derivation-time file
    * matching and rebase-time overlap checks — a drifted copy would let
    * the two disagree about what "touches" a key. */
  private def fileMatchesKeys(bounds: Map[String, (StatVal, StatVal)],
      keyTuples: Array[Array[StatVal]], keyCols: Seq[String]): Boolean =
    keyTuples.exists { tup =>
      keyCols.indices.forall { i =>
        bounds.get(keyCols(i)) match {
          case None => true // no bounds recorded: conservatively match
          case Some((lo, hi)) =>
            cmp(lo, tup(i)) <= 0 && cmp(hi, tup(i)) >= 0
        }
      }
    }

  /** `entries` with the named files removed (stats/bytes kept aligned);
    * entries left empty disappear. The kept side of a merge publish —
    * untouched files carry into the new generation verbatim. */
  private def entriesWithout(entries: Seq[ManifestEntry],
      drop: Set[String]): Seq[ManifestEntry] =
    entries.map { e =>
      val sizeOf = sizesOf(Seq(e))
      val kept = e.files.zip(e.stats).filterNot { case (f, _) => drop.contains(f) }
      ManifestEntry(e.commitId, kept.map(_._1), kept.map(_._2),
        if (sizeOf.isEmpty) Nil else kept.map(p => sizeOf(p._1)))
    }.filter(_.files.nonEmpty)

  /** Re-stamp a staged merge onto a NEW head without re-deriving.
    * Eligible iff (a) every file the derivation rewrote is still live at
    * the new head (a compaction/merge that rewrote one changed rows the
    * staged result consumed — including a tombstone merge that dropped a
    * touched key, since dropping it required rewriting the file that
    * held it), and (b) no file ADDED since the derivation's base can
    * contain any touched key, judged by the same per-file bounds the
    * derivation matched with (missing bounds conservatively overlap).
    * Under (a)+(b) the staged argmax equals what a recompute at the new
    * head would produce — the landed generations touched only foreign
    * keys — so publishing it IS the serializable outcome. Pure metadata:
    * no Spark job, no data movement. None = ineligible, recompute. */
  private def rebaseStagedMerge(s: StagedMerge, head: Long,
      headEntries: Seq[ManifestEntry],
      keyCols: Seq[String]): Option[StagedMerge] = {
    val headFileStats: Seq[(String, Map[String, (StatVal, StatVal)])] =
      headEntries.flatMap(e => e.files.zip(e.stats))
    val headFiles = headFileStats.iterator.map(_._1).toSet
    if (!s.matchedFiles.forall(headFiles.contains)) return None
    val overlap = headFileStats.exists { case (f, bounds) =>
      !s.baseFiles.contains(f) && fileMatchesKeys(bounds, s.keyTuples, keyCols)
    }
    if (overlap) None
    else Some(s.copy(baseGen = head, baseFiles = headFiles))
  }

  /** One merge derivation from base generation `head`: matched files,
    * argmax winners, staged data write — the heavy half of a merge;
    * everything after it is metadata. Touched keys arrive precomputed
    * (they are head-independent; the caller collects them once). */
  private def deriveMerge(
      head: Long,
      headEntries: Seq[ManifestEntry],
      updates: DataFrame,
      keyTuples: Array[Array[StatVal]],
      keyCols: Seq[String],
      orderCol: String,
      deleteCol: String,
      commitId: String,
      keepTombstones: Boolean,
      freshRowsPerFile: Long): StagedMerge = {
    import org.apache.spark.sql.functions._
    val matchedFiles = headEntries.flatMap { e =>
      e.files.zip(e.stats).collect {
        case (f, st) if fileMatchesKeys(st, keyTuples, keyCols) => f
      }
    }

    // Rewrite = LWW argmax over (matched files' rows ∪ updates); ties on
    // orderCol go to the updates side; winning tombstones drop the key.
    val cols = schema.fieldNames.toSeq
    val existing = scanOf(matchedFiles, sizesOf(headEntries)).withColumn("__src", lit(0))
    val upd = updates.select(cols.map(col): _*).withColumn("__src", lit(1))
    // RANGE-partitioned on the keys, one output file per rewritten file:
    // a hash-partitioned (or AQE-coalesced) rewrite would give every
    // output file the FULL key range as its manifest bounds, so the next
    // merge would match all of them — the pruning would decay to nothing
    // after one pass. Range + sort keeps per-file bounds as tight as the
    // files being replaced (probe-verified: stable rewritten-file count
    // across repeated point merges).
    val winners = existing.unionByName(upd)
      .groupBy(keyCols.map(col): _*)
      // `__had` = the key existed in a matched file: what separates a
      // REWRITTEN row (old key, old-or-updated value) from a genuinely
      // FRESH insert — computed in the same aggregate, no extra join.
      .agg(max_by(struct(cols.map(col): _*),
        struct(col(orderCol), col("__src"))).as("w"),
        max(when(col("__src") === 0, 1).otherwise(0)).as("__had"))
      .select(col("__had") +: cols.map(n => col(s"w.$n").as(n)): _*)
    val merged = if (keepTombstones) winners else winners.where(!col(deleteCol))

    val next = head + 1
    val dataDir = s"$tablePath/d-$commitId-g$next"
    val (rwFiles, allSized) =
      if (matchedFiles.isEmpty) {
        // Nothing rewritten (touched keys matched no existing file): the
        // generation is a plain append of the update batch — one write,
        // no persist, no per-file dataChange to record (rewrite=false
        // means everything is fresh by definition). The statement's input
        // is the UPDATE BATCH alone — micro-batch-bounded by the enforced
        // touched-keys contract — so AQE's per-stage job materialization
        // is pure driver latency here (measured: 4 jobs → 1 for this one
        // write); the single-range-partition write needs no sampling job.
        withAqeOff {
          writeData(merged.drop("__had")
            .repartitionByRange(1, keyCols.map(col): _*)
            .sortWithinPartitions(keyCols.map(col): _*), dataDir)
        }
        (Seq.empty[String], listDataFilesSized(dataDir))
      } else {
        // TWO physical passes over the persisted winners: rewritten rows
        // (range-partitioned like the files they replace, bounds stay
        // tight) then fresh inserts APPENDED as their own files — the
        // physical separation that makes per-file dataChange possible
        // (a single mixed write could never tell the changefeed which
        // files are pure inserts). The fresh side is SIZED like the
        // rewrite side: partition count from the fresh row count (the
        // persisted winners make the count one cheap aggregate), so an
        // insert-heavy merge doesn't funnel its whole fresh side through
        // one write task or produce one oversized file whose manifest
        // bounds span the full key range.
        val m = merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          writeData(m.where(col("__had") === 1).drop("__had")
            .repartitionByRange(matchedFiles.size, keyCols.map(col): _*)
            .sortWithinPartitions(keyCols.map(col): _*), dataDir)
          val rw = listDataFiles(dataDir)
          val freshSide = m.where(col("__had") === 0).drop("__had")
          // The whole fresh-insert side — count AND write — runs with AQE
          // scoped off: fresh rows are a subset of the UPDATE BATCH
          // (__had = 0 ⇒ the key existed in no matched file), so the side
          // is micro-batch-bounded by the enforced touched-keys contract
          // at any table scale, and AQE's per-stage job materialization is
          // pure driver latency on it (the count is one row; the write is
          // a cached-scan + range shuffle whose partition count this code
          // sizes EXPLICITLY from the row count — nothing for AQE to
          // coalesce). The rewrite side above deliberately KEEPS AQE: its
          // volume is the matched files', not the batch's.
          withAqeOff {
            val freshCount = freshSide.count()
            if (freshCount > 0L) {
              val parts = math.max(1L,
                (freshCount + freshRowsPerFile - 1L) / freshRowsPerFile)
              val freshDf = freshSide
                .repartitionByRange(parts.toInt, keyCols.map(col): _*)
                .sortWithinPartitions(keyCols.map(col): _*)
              val w = freshDf.write.mode(SaveMode.Append)
              partitionCol.fold(w)(c => w.partitionBy(c)).parquet(dataDir)
            }
          }
          (rw, listDataFilesSized(dataDir))
        } finally m.unpersist(blocking = false)
      }
    val allFiles = allSized.map(_._1)
    val freshFiles = allFiles.filterNot(rwFiles.toSet)
    if (failBeforePublish)
      throw new IllegalStateException(s"injected crash before publish of $commitId")
    val mergedEntry = ManifestEntry(commitId, allFiles,
      collectStats(dataDir, allFiles), allSized.map(_._2))
    StagedMerge(head, headEntries.iterator.flatMap(_.files).toSet,
      next, matchedFiles, keyTuples, mergedEntry, freshFiles)
  }

  /** Publish a staged merge attempt as generation `next` on top of
    * `headEntries` (= generation `next - 1`). Pure metadata: kept
    * entries are the head minus the matched files, the staged entry is
    * appended, and the own/fence/swap protocol is the same one every
    * publisher walks. None = lost the race or fenced — the caller keeps
    * the staged attempt and reconciles with the new head. */
  private def publishStagedMerge(s: StagedMerge, next: Long,
      headEntries: Seq[ManifestEntry], commitId: String): Option[MergeReport] = {
    val keptEntries = entriesWithout(headEntries, s.matchedFiles.toSet)
    beforeOwnHook()
    // Rewrite iff some previously-live file actually left the manifest —
    // the same file-level criterion the changefeed's fallback diff
    // applies (a merge whose touched keys matched NO existing file is a
    // plain append of the update batch). The fresh list is per-file
    // dataChange for emitFresh subscribers.
    val nonce = newNonce()
    tryOwnGeneration(next, s.entry, rewrite = s.rewrite,
      fresh = if (s.rewrite) Some(s.freshFiles) else None,
      nonce) match {
      case Owned =>
        try {
          // Ownership re-check at the last instant before the shared
          // manifest overwrite (same guard as commit's checkpoint path).
          if (!stillOwns(next, nonce)) {
            fencedPublishCount.incrementAndGet()
            None
          } else {
            writeManifest(next, keptEntries :+ s.entry, nonce)
            publishOwned(next, commitId, nonce, s.entry,
              rewrite = s.rewrite,
              fresh = if (s.rewrite) Some(s.freshFiles) else None)
            entriesCache = Some((next, keptEntries :+ s.entry))
            Some(MergeReport(rewritten = s.matchedFiles.size,
              kept = keptEntries.map(_.files.size).sum, applied = true))
          }
        } catch {
          case _: ConcurrentPublishException =>
            // Fenced at the swap: someone else published this generation.
            // The staged attempt is NOT dead — the caller rebases it onto
            // the new head when the landed change is disjoint.
            fencedPublishCount.incrementAndGet()
            None
          case scala.util.control.NonFatal(e) =>
            // A LIVE publisher whose post-own step failed must not hold
            // every other writer hostage for the lease.
            tryReleaseReservation(next, nonce)
            throw e
        }
      case AlreadyPublishedByUs =>
        // A sibling replay of this commitId finished it mid-attempt: an
        // idempotent skip, reported like the entry-cache one. Leave the
        // staged dir alone (when the sibling staged at the same
        // generation it IS the sibling's dir; otherwise the sweep
        // collects ours once aged).
        Some(MergeReport(rewritten = 0,
          kept = cachedEntriesAt(currentGeneration().getOrElse(0L))
            .map(_.files.size).sum,
          applied = false))
      case OwnConflict =>
        lostRaceCount.incrementAndGet()
        // Retained: the caller reconciles (rebase or recompute) once the
        // holder publishes or its lease lapses.
        None
    }
  }

  /** Delete data directories referenced by no retained manifest
    * generation (crashed attempts, pre-compaction generations older than
    * the retention window). `retainGenerations` = how many trailing
    * generations stay time-travel readable via [[readAt]]; 1 keeps only
    * the current one — the VACUUM/retention trade exactly as in
    * Delta/Iceberg. Safe any time in the single-writer model: a directory
    * outside every retained manifest can never become referenced again
    * (generations only grow).
    *
    * `minAgeMillis`: skip unreferenced directories younger than this.
    * With 0 (default) the sweep may only run from the WRITER between its
    * own commits — an IN-FLIGHT commit's directory is written before the
    * pointer swap and is exactly "unreferenced" until publish, so a
    * concurrent sweep would delete a commit mid-write. A maintenance
    * process sweeping BESIDE a live writer must pass an age comfortably
    * above the longest commit (Delta's VACUUM retention guard, for the
    * same race). Returns deleted dirs. */
  def sweepOrphans(retainGenerations: Int = 1, minAgeMillis: Long = 0L): Seq[String] = {
    require(retainGenerations >= 1, "must retain at least the current generation")
    val (fs, root) = fsOf(tablePath)
    if (!fs.exists(root)) return Seq.empty
    val live: Set[String] = currentGeneration() match {
      case None => Set.empty
      case Some(gen) =>
        val lo = math.max(0L, gen - (retainGenerations - 1).toLong)
        (lo to gen).flatMap(g =>
          manifestEntries(g).flatMap(_._2).map(_.split("/", 2)(0))).toSet
    }
    val now = System.currentTimeMillis()
    val victims = fs.listStatus(root).filter(_.isDirectory)
      .filter { st =>
        st.getPath.getName.startsWith("d-") &&
          !live.contains(st.getPath.getName) && {
            minAgeMillis <= 0L || {
              // Age from the NEWEST dateable evidence — the dir mtime or
              // any child file's mtime. Directory mtimes are unreliable
              // on object stores (S3A "directories" commonly report 0),
              // which would make a dir-mtime-only guard vacuous exactly
              // where it matters; with no dateable evidence at all the
              // dir is conservatively treated as young and skipped (a
              // real commit dir gains dateable files immediately). A dir
              // that VANISHES between the root listing and this probe
              // was reclaimed by a concurrent cleaner (a lost-race
              // publisher dropping its own dead attempt, another
              // process's sweep) — already gone is the sweep's goal
              // state, not an error: skip it.
              val childMax =
                (try listDataFilesStat(st.getPath.toString)
                 catch { case _: java.io.FileNotFoundException =>
                   Seq.empty[(String, Long, Long)] })
                .map(_._3).maxOption.getOrElse(0L)
              if (!fs.exists(st.getPath)) false // vanished: already reclaimed
              else {
                val newest = math.max(st.getModificationTime, childMax)
                // No dateable evidence at all (object-store dir with mtime
                // 0 and no parquet children): conservatively young forever
                // — but LOUDLY, so an operator can reclaim the permanently
                // skipped directory by hand instead of leaking it silently.
                if (newest <= 0L) log.warn(
                  s"sweepOrphans: unreferenced dir ${st.getPath} has no " +
                    "dateable evidence (dir mtime 0, no parquet children) — " +
                    "skipped under minAgeMillis; delete manually if it is a " +
                    "known-dead attempt")
                newest > 0L && now - newest >= minAgeMillis
              }
            }
          }
      }
      .map(_.getPath)
    victims.foreach(p => fs.delete(p, true))
    // Stale pointer-staging objects: every publish attempt stages its
    // pointer frame as `_gen.<nonce>.tmp` (unique per attempt, see
    // [[publish]]); a publisher crashing between create and rename
    // leaves its tmp behind. Tiny objects, but a crash-heavy table would
    // accumulate them — collect any older than the publish lease (by
    // then the attempt is either published, via a rename that consumed
    // the tmp, or dead).
    val tmpPrefix = new Path(genPointerPath).getName + "."
    val staleTmps = fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.startsWith(tmpPrefix) &&
        st.getPath.getName.endsWith(".tmp") &&
        now - st.getModificationTime > math.max(minAgeMillis, publishLeaseMillis))
      .map(_.getPath)
    staleTmps.foreach(p =>
      try fs.delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () })
    // Dead ATTEMPT manifests: every publish writes its full manifest to
    // its own owner-suffixed object (m-<gen>.<nonce>.json) before the
    // swap, so a fenced/crashed attempt leaves its object behind — never
    // consulted (resolution follows the authoritative owner), but a
    // conflict-heavy table would accumulate them. Reclaim once provably
    // dead: the generation's authoritative owners ([[authoritativeOwners]]
    // — the SAME arbiter reads use) exist and exclude this object's; for
    // a generation BEYOND the head, the generation sidecar must be absent
    // (reservation released) or carry a DIFFERENT nonce (taken over) —
    // age alone is NOT death evidence there, because a publisher stalled
    // between its manifest write and its pointer swap, with no contender,
    // still holds the reservation: its sidecar carries this object's
    // nonce, and on wake it passes `stillOwns` and COMMITS the
    // generation. Sweeping its manifest first would commit a rewrite
    // generation with no full manifest — every read thereafter throws,
    // and a merge's kept-file set is unrecoverable from deltas. In ALL
    // cases the object must additionally have aged past lease + retry (a
    // commit blocked behind a reservation legitimately re-owns and
    // rewrites for up to that long). A failed sidecar read KEEPS the
    // object, and a DAMAGED head (verifyHead non-empty — the fencing
    // metadata is inconsistent, so ownership judgments are not
    // trustworthy) suspends this reclamation class entirely — only proof
    // deletes.
    val mdir = fsOf(manifestDir)._2
    val manifestAgeFloor =
      math.max(minAgeMillis, publishLeaseMillis + publishRetryMillis)
    val head = currentGeneration().getOrElse(0L)
    val headDamaged =
      try verifyHead().isDefined
      catch { case scala.util.control.NonFatal(_) => true }
    // Shared with attempt MANIFESTS and heartbeat MARKERS: an attempt
    // object beyond the head is dead only on sidecar EVIDENCE — absent
    // (released) or a foreign nonce (taken over). A sidecar still
    // carrying the object's nonce is a live un-taken-over reservation —
    // a >= lease-stalled holder is explicitly in the class's threat
    // model, and deleting its manifest would corrupt the generation it
    // later commits. Unreadable sidecar (torn mid-write by a live
    // publisher) keeps the object.
    def deadBeyondHead(gen: Long, o: String): Boolean =
      (try Some(deltaRecord(gen).flatMap(_.owner))
       catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(holder) => !holder.contains(o)
        case None => false // read fault: keep
      }
    val deadManifests =
      if (headDamaged || !fs.exists(mdir)) Array.empty[Path]
      else fs.listStatus(mdir).flatMap { st =>
        st.getPath.getName match {
          case ManifestTable.OwnedManifestNameRe(g, o)
              if st.isFile &&
                now - st.getModificationTime > manifestAgeFloor =>
            val gen = g.toLong
            val dead =
              if (gen > head) deadBeyondHead(gen, o)
              else {
                val owners =
                  try authoritativeOwners(gen)
                  catch { case scala.util.control.NonFatal(_) => Seq.empty }
                owners.nonEmpty && !owners.contains(o)
              }
            if (dead) Some(st.getPath) else None
          case ManifestTable.HeartbeatNameRe(g, o)
              if st.isFile &&
                now - st.getModificationTime > manifestAgeFloor =>
            // A crashed escalation's marker. At or below the head the
            // reservation is over (published) — always dead once aged;
            // beyond it, the same evidence rule as attempt manifests.
            val gen = g.toLong
            if (gen <= head || deadBeyondHead(gen, o)) Some(st.getPath)
            else None
          case _ => None
        }
      }
    deadManifests.foreach(p =>
      try fs.delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () })
    (victims.map(_.getName) ++ staleTmps.map(_.getName) ++
      deadManifests.map(_.getName)).toSeq
  }

  /** FILE-granularity companion to [[sweepOrphans]], needed once
    * [[merge]] is in play: a merge drops individual FILES from a commit
    * whose other files stay live, so the directory-level sweep never
    * reclaims them — at a micro-batch merge cadence that is a permanent
    * space leak inside partially-kept directories. This pass deletes
    * data files under live `d-*` directories that no retained
    * manifest references (same retention contract, same single-writer
    * safety: a file absent from every retained manifest can never be
    * referenced again). `minAgeMillis` as in [[sweepOrphans]]: a merge
    * appends files into the live directory BEFORE publishing, so a sweep
    * running beside a live writer must skip young files. Returns deleted
    * relative paths. */
  def sweepOrphanFiles(retainGenerations: Int = 1, minAgeMillis: Long = 0L): Seq[String] = {
    require(retainGenerations >= 1, "must retain at least the current generation")
    val (fs, root) = fsOf(tablePath)
    if (!fs.exists(root)) return Seq.empty
    val liveFiles: Set[String] = currentGeneration() match {
      case None => Set.empty
      case Some(gen) =>
        val lo = math.max(0L, gen - (retainGenerations - 1).toLong)
        (lo to gen).flatMap(g => manifestEntries(g).flatMap(_._2)).toSet
    }
    val liveDirs = liveFiles.map(_.split("/", 2)(0))
    val now = System.currentTimeMillis()
    // Same walk as the commit path (listDataFilesStat), so layout and
    // relativization can never drift between writer and reclaimer. A dir
    // vanishing mid-walk was reclaimed by a concurrent cleaner — skip.
    val victims = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("d-") && liveDirs.contains(p.getName))
      .flatMap(dir =>
        try listDataFilesStat(dir.toString)
        catch { case _: java.io.FileNotFoundException =>
          Seq.empty[(String, Long, Long)] })
      .collect {
        case (rel, _, mtime)
            if (minAgeMillis <= 0L || now - mtime >= minAgeMillis) &&
              !liveFiles.contains(rel) => rel
      }
    victims.foreach(rel => fs.delete(new Path(s"$tablePath/$rel"), false))
    victims.toSeq
  }
}

object ManifestTable {

  /** A publish lost its generation race to a concurrent publisher and
    * could not (commit/merge: after retries) or must not (replaceAll:
    * stale input) be completed. LOUD by design — the pre-optimistic
    * protocol silently discarded the earlier commit instead. */
  final class ConcurrentPublishException(msg: String)
      extends RuntimeException(msg)

  /** Depth-counted AQE-off scope, per session (see the instance-side
    * [[ManifestTable.withAqeOff]] doc): the OUTERMOST scope captures the
    * real previous value and only the OUTERMOST exit restores it, so
    * overlapping scopes from concurrent store threads can never pin the
    * session to AQE-off by restoring each other's "false". */
  private final class AqeScopeState {
    var depth = 0
    var saved: String = "true"
    var savedLimitParts: Option[String] = None
    // Set when the last exit removed this entry from the map: a thread
    // that raced computeIfAbsent against that removal must retry, or two
    // live states for one session would each believe they are outermost
    // (and one would capture the other's "false" as the previous value —
    // the exact race the depth count exists to prevent).
    var retired = false
  }
  private val aqeScopes =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, AqeScopeState]()

  /** Live scope-state entries — exposed for the leak pin in
    * ManifestStatsSpec (entries must not outlive their scopes: the map
    * would otherwise strongly retain every session that ever entered a
    * scope for the JVM lifetime). */
  private[graft] def aqeScopeCount: Int = aqeScopes.size

  private[graft] def aqeScopeOff[T](spark: SparkSession)(body: => T): T = {
    var st: AqeScopeState = null
    var entered = false
    while (!entered) {
      st = aqeScopes.computeIfAbsent(spark, _ => new AqeScopeState)
      st.synchronized {
        if (!st.retired) {
          if (st.depth == 0) {
            st.saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            // A scoped statement's take()/limit-collect must read ALL of
            // its (metadata-sized) output in ONE job: the default
            // initialNumPartitions=1 makes executeTake scan one partition,
            // come back to the driver, and scale up 4× per round — the
            // touched-keys collect measured 3 jobs for one statement. A
            // concurrent query planned inside the window merely loses the
            // incremental-take optimization (it reads all partitions of
            // its final stage at once) — same perf-only posture as the
            // AQE flag itself.
            st.savedLimitParts =
              spark.conf.getOption("spark.sql.limit.initialNumPartitions")
            spark.conf.set("spark.sql.limit.initialNumPartitions", "1000000")
          }
          st.depth += 1
          entered = true
        }
      }
    }
    try body
    finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) {
        spark.conf.set("spark.sql.adaptive.enabled", st.saved)
        st.savedLimitParts match {
          case Some(v) => spark.conf.set("spark.sql.limit.initialNumPartitions", v)
          case None => spark.conf.unset("spark.sql.limit.initialNumPartitions")
        }
        // Drop the entry so the map never strongly retains a finished
        // session (short-lived newSession() services): retire-then-remove
        // under the same lock keeps the depth-count race-safe.
        st.retired = true
        aqeScopes.remove(spark, st)
      }
    }
  }

  /** How long commit/merge/replaceAllRetrying keep retrying lost
    * generation races before failing loudly. TIME-based, not
    * attempt-based, because the thing a blocked writer must outlive is a
    * HELD RESERVATION (a no-pause compaction's derivation, or a crashed
    * attempt waiting out its lease) — an attempt budget would need
    * per-deployment tuning against a wall-clock window. Default =
    * [[publishLeaseMillis]] + 60 s: by then a live holder has published
    * (writers then proceed at the next generation) or a dead one's lease
    * has expired and the takeover path unblocks. System property first
    * (tests), env second. */
  def publishRetryMillis: Long =
    sys.props.get("graft.publish.retryMs")
      .orElse(sys.env.get("GRAFT_PUBLISH_RETRY_MS"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(publishLeaseMillis + 60000L)

  /** Age past which an unpublished generation's sidecar is treated as a
    * DEAD publish attempt and taken over. Must exceed the longest
    * plausible HOLD between a publisher's sidecar create and its pointer
    * swap. For commit/merge that window holds only small metadata writes
    * (manifest + pointer — milliseconds); for [[ManifestTable.replaceAllRetrying]]
    * it spans the WHOLE replacement derivation (reserve-first), so size
    * the lease above the longest compaction. A premature takeover from a
    * paused-not-dead compactor is caught by its pre-publish ownership
    * re-verify (it loses and retries), but mtime leases carry no fencing
    * token — the instant between a re-verify and the following write
    * stays exposed, so prefer a generous lease over a tight one. */
  def publishLeaseMillis: Long =
    sys.props.get("graft.publish.leaseMs")
      .orElse(sys.env.get("GRAFT_PUBLISH_LEASE_MS"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(600000L)

  /** Takeover lease an ESCALATED merge reservation advertises in its
    * sidecar (`"lease"` field). Escalations sit on the 1 Hz serving
    * path, so a crash mid-escalated-derivation must not stall foreign
    * publishers for the crash-sized global lease — the reservation
    * HEARTBEATS (overwrites its own attempt-unique `hb-<gen>.<nonce>`
    * marker every lease/3; the takeover clock reads
    * max(sidecar mtime, marker mtime) — never a shared-object write, so
    * a frozen stale heartbeat can clobber nothing), which lets the
    * advertised lease be
    * seconds: a live derivation of any length keeps re-arming it; a dead
    * one stops and is taken over within this bound. 30 s default: ~3
    * heartbeat losses of slack against GC/host hiccups (the round-18
    * soaks saw multi-minute HOST freezes — under one of those the
    * reservation is legitimately taken over and the woken merge rebases
    * or recomputes, the same loss class as any fenced publish — zero
    * lost commits either way, spec-pinned). The COMPACTOR's reservation
    * ([[replaceAllRetrying]]) advertises and heartbeats the same short
    * lease: its derivation has no natural cadence, but the daemon beat
    * is independent of it, so a crash mid-compaction now stalls
    * publishers for seconds too instead of the documented minutes-long
    * trade. Clamped to the global lease. System property first (tests),
    * env second. */
  def escalationLeaseMillis: Long =
    math.min(publishLeaseMillis,
      sys.props.get("graft.escalation.leaseMs")
        .orElse(sys.env.get("GRAFT_ESCALATION_LEASE_MS"))
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .filter(_ > 0).getOrElse(30000L))

  /** What a [[ManifestTable.merge]] did: `rewritten` files re-written
    * because a touched key could live there, `kept` carried verbatim,
    * `applied` false for an idempotent skip / empty update set. */
  final case class MergeReport(rewritten: Int, kept: Int, applied: Boolean)

  /** Driver budget for [[ManifestTable.merge]]'s touched-key collect —
    * past it the merge REFUSES (a table-sized update batch belongs in
    * `replaceAll`, not a per-key merge). Env-overridable; malformed
    * values fall back to the 1M default (a few tens of MB of driver heap
    * at typical key widths, far above any micro-batch). */
  def mergeMaxTouchedKeys: Long =
    sys.env.get("GRAFT_MERGE_MAX_TOUCHED_KEYS")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(1000000L)

  /** Target row count per FRESH-insert file a [[ManifestTable.merge]]
    * writes (the rewrite side is sized by the files it replaces; the
    * fresh side has no such template). 256k rows keeps a typical
    * micro-batch merge at one file while splitting an insert-heavy
    * backfill merge into bounded files with tight per-file key bounds.
    * Env-overridable; malformed values fall back to the default. */
  def mergeFreshRowsPerFile: Long =
    sys.env.get("GRAFT_MERGE_FRESH_ROWS_PER_FILE")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(262144L)

  /** One manifest line: a commit, its files, per-file column bounds
    * (`stats(i)` describes `files(i)`; empty map = no bounds recorded),
    * and per-file byte sizes (`bytes(i)` sizes `files(i)`; `Nil` =
    * unknown, pre-bytes manifest). */
  private[graft] final case class ManifestEntry(
      commitId: String,
      files: Seq[String],
      stats: Seq[Map[String, (StatVal, StatVal)]],
      bytes: Seq[Long] = Nil)

  /** A min/max bound value. Longs compare numerically; strings compare as
    * unsigned UTF-8 bytes — the SAME order Spark's `min`/`max` over
    * `StringType` use (`UTF8String.binaryCompare`), so bounds computed by
    * Spark prune predicates evaluated by Spark without ordering drift
    * (Java `String.compareTo` is UTF-16 code-unit order and DISAGREES on
    * supplementary characters). */
  private[graft] sealed trait StatVal
  private[graft] final case class LongVal(v: Long) extends StatVal
  private[graft] final case class BytesVal(v: Array[Byte]) extends StatVal

  /** A fully-derived, staged-but-unpublished merge attempt: everything a
    * publish needs, retained across lost generation races so a disjoint
    * rebase can re-stamp the staged result onto a new head without
    * re-running the derivation. `stagedGen` is the generation in the
    * staged directory's NAME (base+1 at derivation time) — a rebased
    * attempt publishes that directory under a LATER generation, which
    * `dropStagedIfDead` and the sweeps already accommodate (liveness is
    * judged by path references, not by the name's generation). */
  private[store] final case class StagedMerge(
      baseGen: Long,
      baseFiles: Set[String],
      stagedGen: Long,
      matchedFiles: Seq[String],
      keyTuples: Array[Array[StatVal]],
      entry: ManifestEntry,
      freshFiles: Seq[String]) {
    def rewrite: Boolean = matchedFiles.nonEmpty
  }

  /** File-pruning predicates over manifest bounds. Semantics per file:
    *   - [[StatsEq]]  `col = v`  → survive iff min ≤ v ≤ max
    *   - [[StatsLte]] `col ≤ v`  → survive iff min ≤ v
    *   - [[StatsGte]] `col ≥ v`  → survive iff max ≥ v
    * `value` is a Long (for long/int columns) or String. SQL's
    * `NULL cmp x = NULL` makes these sound on nullable columns too: bounds
    * ignore nulls, and null-valued rows can never satisfy the Catalyst
    * predicate the caller still applies. */
  /** One generation's sidecar: the new manifest entry, whether prior
    * files left the manifest (rewrite), and — when the writer could
    * tell — which of the entry's files carry genuinely new rows
    * (per-file dataChange; None = unknown, pre-upgrade sidecar).
    * `leaseMillis` = the holder's self-advertised takeover lease (set by
    * heartbeating reservations; None = the global publish lease). */
  final case class DeltaRecord(
      entry: ManifestEntry, rewrite: Boolean, fresh: Option[Seq[String]],
      owner: Option[String] = None, leaseMillis: Option[Long] = None)

  sealed trait StatsFilter { def col: String; def value: Any }
  final case class StatsEq(col: String, value: Any) extends StatsFilter
  final case class StatsLte(col: String, value: Any) extends StatsFilter
  final case class StatsGte(col: String, value: Any) extends StatsFilter

  /** The self-validating generation-pointer frame (see
    * [[ManifestTable.currentGeneration]]). Frame VERSION doubles as the
    * table's min-reader gate: `g2` is the base layout (every generation
    * has a full manifest); `g3` marks a table with at least one
    * delta-only generation (checkpointInterval > 1), which a pre-sidecar
    * reader would silently misread as empty — its `g2`-only parser now
    * fails loudly on the unknown frame instead (the Delta
    * minReaderVersion posture, carried in the pointer itself so the gate
    * and the generation publish in one atomic swap). */
  private[store] val FramedGenRe = """^g([23]):(\d+):(\d+);$""".r

  /** The OWNER-carrying frames (`g4:<gen>:<nonce>:<gen>;` and the
    * structurally identical `g5:...`): the doubled generation keeps the
    * torn-read self-validation, and the middle segment names the
    * publishing attempt's fencing nonce — the swap's CONTENT identifies
    * its author, so head sidecar and pointer are cross-checkable
    * ([[ManifestTable.verifyHead]]) and each version bump gates
    * too-old readers out loudly. g4 (r17) gated pre-fencing readers;
    * g5 (r18) additionally marks tables whose full manifests are
    * OWNER-SUFFIXED objects (`m-<gen>.<nonce>.json`, resolved through
    * the generation sidecar's owner) — a g4 reader consulting only the
    * legacy unsuffixed path would misread a checkpoint generation as
    * delta-only, so it must refuse, and does. New publishes write g5;
    * g4 tables (legacy unsuffixed manifests) remain fully readable. */
  private[store] val FramedOwnerRe = """^g([45]):(\d+):([0-9a-fA-F]+):(\d+);$""".r

  /** Any higher-versioned frame: structurally intact, written by a newer
    * writer — distinguish "needs a newer reader" from corruption. */
  private[store] val NewerFrameRe = """^g(\d+):(\d+):(\d+);$""".r

  /** Higher-versioned owner-carrying frame (4 segments). */
  private[store] val NewerFrame4Re = """^g(\d+):(\d+):[0-9a-zA-Z-]+:(\d+);$""".r

  /** Recorded byte size per relative file path — what [[scanOf]] builds
    * file statuses from. Entries written before the manifest carried
    * `bytes` contribute nothing (their files cost a status call). */
  private[graft] def sizesOf(entries: Seq[ManifestEntry]): Map[String, Long] =
    entries.iterator.filter(e => e.bytes.size == e.files.size)
      .flatMap(e => e.files.iterator.zip(e.bytes.iterator)).toMap

  /** A fresh fencing nonce: one per own ATTEMPT (not per commitId — a
    * sibling replay of the same commit is a different attempt and must
    * be distinguishable, or a takeover could not fence the original). */
  private[store] def newNonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  // THE metadata-object name patterns — one definition each, shared by
  // the writer paths, the sweep, the history audit, and the diagnostic
  // probes/censuses. A drifted copy of these is how a sweep and a reader
  // come to disagree about what an attempt object is.
  /** Owner-suffixed full-manifest object: `m-<gen>.<nonce>.json`. */
  private[graft] val OwnedManifestNameRe = """^m-(\d+)\.([0-9a-fA-F]+)\.json$""".r
  /** Legacy unsuffixed full-manifest object: `m-<gen>.json`. */
  private[graft] val LegacyManifestNameRe = """^m-(\d+)\.json$""".r
  /** Delta sidecar object: `d-<gen>.json`. */
  private[graft] val SidecarNameRe = """^d-(\d+)\.json$""".r
  /** Reservation heartbeat marker: `hb-<gen>.<nonce>` (attempt-unique;
    * see the escalation block in [[ManifestTable.merge]]). */
  private[graft] val HeartbeatNameRe = """^hb-(\d+)\.([0-9a-fA-F]+)$""".r

  // Tagged scalar codec for manifest JSON: `l:<decimal>` / `s:<base64 of
  // UTF-8 bytes>`. Both alphabets avoid `{ } [ ] " ,` entirely, which is
  // what licenses the manifest parser's split-based object scan.
  private val StatsPairRe =
    """"([^"]+)":\["([^"]*)","([^"]*)"\]""".r

  private def encodeStatVal(v: StatVal): String = v match {
    case LongVal(l) => s"l:$l"
    case BytesVal(b) =>
      "s:" + java.util.Base64.getEncoder.encodeToString(b)
  }

  private def decodeStatVal(s: String): StatVal =
    if (s.startsWith("l:")) LongVal(s.drop(2).toLong)
    else if (s.startsWith("s:")) BytesVal(java.util.Base64.getDecoder.decode(s.drop(2)))
    else sys.error(s"unrecognized stat value tag: $s")

  private def toStatVal(v: Any): StatVal = v match {
    case l: Long => LongVal(l)
    case i: Int => LongVal(i.toLong)
    case s: String => BytesVal(s.getBytes("UTF-8"))
    case other => sys.error(s"unsupported stats value ${other.getClass}")
  }

  /** Unsigned-lexicographic byte compare = UTF8String.binaryCompare. */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def cmp(bound: StatVal, v: StatVal): Int = (bound, v) match {
    case (LongVal(a), LongVal(b)) => java.lang.Long.compare(a, b)
    case (BytesVal(a), BytesVal(b)) => cmpBytes(a, b)
    case _ => sys.error(s"stats bound/filter type mismatch: $bound vs $v")
  }

  private def survives(
      bounds: Map[String, (StatVal, StatVal)],
      f: StatsFilter): Boolean =
    bounds.get(f.col) match {
      case None => true // unknown bounds: never prune
      case Some((lo, hi)) =>
        val v = toStatVal(f.value)
        f match {
          case _: StatsEq => cmp(lo, v) <= 0 && cmp(hi, v) >= 0
          case _: StatsLte => cmp(lo, v) <= 0
          case _: StatsGte => cmp(hi, v) >= 0
        }
    }
}
