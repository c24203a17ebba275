package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for graft's custom Catalyst expressions, via the public
  * `SparkSessionExtensions` API:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   ...
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) FROM ...")
  * spark.sql("SELECT explode(graft_word_shingles(text, 3)) FROM docs")
  * }}}
  *
  * Registered functions:
  *   - `graft_dot(array, array) -> double` — codegen'd sequential-fold dot
  *     product ([[ArrayDotProduct]]).
  *   - `graft_word_shingles(text, n) -> array<string>` — distinct word
  *     n-grams in one compiled pass ([[WordShingles]]).
  *   - `graft_sorted_intersect_count(a, b) -> bigint` — distinct
  *     intersection count of two sorted long arrays
  *     ([[SortedIntersectCount]]).
  *   - `graft_state_as_of(root, tablet, at_height[, block_ref])` — TABLE
  *     function: the flagship store-backed as-of read in pure SQL,
  *     planned snapshot-aware by the injected
  *     [[graft.plans.StateAsOfRule]]; with a block ref, the fork-branch
  *     read through a registered pipeline's speculative overlay
  *     (`SELECT * FROM graft_state_as_of('/store', 'accounts', 800)`).
  *   - `graft_tablet_diff(root, tablet, from, to)` — the incremental
  *     state-diff read; `graft_release_diffs()` frees its session-cached
  *     checkpoints.
  *   - `graft_singlet_as_of(root, singlet, h[, block_ref])` /
  *     `graft_singlet_history(root, singlet[, block_ref])` — the singlet
  *     point read and O3 history, with the same fork-branch overload.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Custom logical plan: `stateAsOf` marker → readTabletAt plan
    // (SURVEY.md §7.3's optional Catalyst rewrite; see graft.plans.StateAsOf).
    ext.injectResolutionRule(session => new graft.plans.StateAsOfRule(session))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
        ArrayDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_word_shingles(text, n) takes exactly 2 arguments")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Integer, _) => v.intValue
          case other => throw new IllegalArgumentException(
            s"graft_word_shingles: n must be an integer literal, got $other")
        }
        WordShingles(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_sorted_intersect_count(a, b) takes exactly 2 arguments")
        SortedIntersectCount(children.head, children(1))
      }))
    // TABLE function: the flagship read in pure SQL —
    //   SELECT * FROM graft_state_as_of('<store root>', 'tablet', 800)
    // builds the StateAsOfStore marker, which the resolution rule above
    // plans snapshot-aware (latest usable TabletIndex → snapshot ∪ tail,
    // full history otherwise) exactly like the DataFrame surface. SQL-only
    // consumers get the production read with zero Scala.
    //
    // FORK-BRANCH form (4th argument, a block ref):
    //   SELECT * FROM graft_state_as_of('/store', 'accounts', 805, 'b805')
    // resolves the speculative overlay of that block's branch through the
    // pipeline registered for the root (GraftExtensions.registerPipeline)
    // and overlays it on the durable read — the reference's flagship
    // server read, which resolves state at a BLOCK REF through the fork
    // tree, not just at a height (fluxdb.go:110–140, pipeline.go:228–265).
    // A '#<num>' ref addresses the current chain at that block number.
    ext.injectTableFunction((
      FunctionIdentifier("graft_state_as_of"),
      new ExpressionInfo(classOf[graft.plans.StateAsOfStore].getName, "graft_state_as_of"),
      (children: Seq[Expression]) => GraftExtensions.stateAsOfTable(children)))
    // TABLE function: the state-diff changefeed read in pure SQL —
    //   SELECT * FROM graft_tablet_diff('<store root>', 'tablet', 6000, 9000)
    // plans the store's INCREMENTAL diff (manifest-bounded window scan +
    // snapshot-pruned pre-state resolve), per-key added/updated/deleted.
    ext.injectTableFunction((
      FunctionIdentifier("graft_tablet_diff"),
      new ExpressionInfo(classOf[graft.store.StateStore].getName, "graft_tablet_diff"),
      (children: Seq[Expression]) => GraftExtensions.tabletDiffTable(children)))
    // TABLE function: the diff TVF's LIFECYCLE verb —
    //   SELECT * FROM graft_release_diffs()
    // Each graft_tablet_diff analysis materializes its (poll-sliver-sized)
    // result as an eager localCheckpoint; the blocks are reclaimed by the
    // GC-driven ContextCleaner once the plan is unreachable, but a
    // long-lived SQL-ONLY session issuing many diff analyses has no way
    // to call GraftBridge.freeLocalCheckpoint and can accumulate blocks
    // faster than the GC notices. This verb frees every still-reachable
    // diff checkpoint planned in the session (returns the count) —
    // call it once nothing will re-read earlier diff results.
    ext.injectTableFunction((
      FunctionIdentifier("graft_release_diffs"),
      new ExpressionInfo(classOf[graft.store.StateStore].getName, "graft_release_diffs"),
      (children: Seq[Expression]) => GraftExtensions.releaseDiffsTable(children)))
    // TABLE function: the singlet as-of read in pure SQL —
    //   SELECT * FROM graft_singlet_as_of('<store root>', 'head', 800)
    // — the store's manifest-pruned point read of one singlet's latest
    // entry at a height (read.go:300–349 parity for SQL-only consumers).
    ext.injectTableFunction((
      FunctionIdentifier("graft_singlet_as_of"),
      new ExpressionInfo(classOf[graft.store.StateStore].getName, "graft_singlet_as_of"),
      (children: Seq[Expression]) => GraftExtensions.singletAsOfTable(children)))
    // TABLE function: one singlet's FULL history in pure SQL —
    //   SELECT * FROM graft_singlet_history('<store root>', 'head')
    // — most recent first, O3 semantics (read.go:356–408), completing the
    // SQL surface over the four point-in-time read operators.
    ext.injectTableFunction((
      FunctionIdentifier("graft_singlet_history"),
      new ExpressionInfo(classOf[graft.store.StateStore].getName, "graft_singlet_history"),
      (children: Seq[Expression]) => GraftExtensions.singletHistoryTable(children)))
  }
}

object GraftExtensions {

  /** One [[graft.store.StateStore]] handle per root, process-wide: the
    * constructor runs crash recovery (orphan sweep, swap repair), which a
    * per-QUERY construction would repeat on every SQL call — and the
    * store's checkpoint cache is only coherent under the documented
    * single-writer discipline anyway. */
  private val stores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.StateStore]()

  private[graft] def storeFor(root: String): graft.store.StateStore =
    stores.computeIfAbsent(root, r => new graft.store.StateStore(r)(SparkSession.active))

  /** Live ingestion pipelines by store root: the handle through which the
    * SQL surface reaches DRIVER-SIDE fork state (the ForkDB's speculative
    * overlay — in-memory by design, reference pipeline.go:110; there is
    * nothing durable a bare path could resolve it from). The embedding
    * application registers its pipeline once at startup; the fork-branch
    * `graft_state_as_of(root, tablet, h, block_ref)` form then works for
    * SQL-only consumers. Keyed by the exact root string the TVFs use. */
  private val pipelines = new java.util.concurrent.ConcurrentHashMap[
    String, graft.streaming.IngestionPipeline]()

  /** Register the pipeline serving `root`'s head state (latest wins). */
  def registerPipeline(
      root: String, pipeline: graft.streaming.IngestionPipeline): Unit =
    pipelines.put(root, pipeline)

  /** Drop `root`'s pipeline registration (e.g. on pipeline shutdown);
    * subsequent fork-branch SQL reads fail loudly again. */
  def unregisterPipeline(root: String): Unit = pipelines.remove(root)

  private def pipelineFor(root: String): graft.streaming.IngestionPipeline = {
    val p = pipelines.get(root)
    if (p == null) throw new IllegalStateException(
      s"no ingestion pipeline registered for root '$root': fork-branch " +
        "reads resolve the speculative overlay through live driver-side " +
        "fork state — call GraftExtensions.registerPipeline(root, pipeline) " +
        "at application startup (durable-only reads need no registration: " +
        "use the 3-argument graft_state_as_of)")
    p
  }

  private def stringArg(fn: String, e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a string literal, got $other")
  }

  private def longArg(fn: String, e: Expression, what: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  /** Builder for the `graft_state_as_of` TVF: literal args → the
    * [[graft.plans.StateAsOfStore]] marker over the store's mutation
    * table. Resolution (and the one tiny snapshot-log aggregate it runs)
    * happens in [[graft.plans.StateAsOfRule]], as for the DataFrame form.
    *
    * With a 4th argument (a block ref string: an id, or `#<num>` for a
    * bare block number on the current chain) the read is a FORK-BRANCH read: the registered
    * pipeline resolves that block's speculative overlay (reference
    * NotReady / RequestedBlockNotFound semantics surface as loud errors)
    * and the store plans `readTabletAt` with the overlay — still
    * snapshot-routed on the durable side; the overlay frames are tiny
    * (≤ the ~300-block reversible segment) and ride above the argmax. */
  private[functions] def stateAsOfTable(children: Seq[Expression]): LogicalPlan = {
    require(children.length == 3 || children.length == 4,
      "graft_state_as_of(root, tablet, at_height[, block_ref]) takes 3 or 4 arguments")
    val root = stringArg("graft_state_as_of", children(0), "root")
    val store = storeFor(root)
    val tablet = stringArg("graft_state_as_of", children(1), "tablet")
    val atHeight = longArg("graft_state_as_of", children(2), "at_height")
    if (children.length == 3)
      graft.plans.StateAsOfStore(
        GraftBridge.logicalPlan(store.tabletRows), store, tablet, atHeight, None)
    else {
      // Unambiguous ref syntax: `#<num>` = a bare block NUMBER on the
      // current chain; anything else = a block ID. A digits-only
      // heuristic would misroute hex block ids that happen to be all
      // decimal digits (silently, for short ones).
      val ref = blockRefArg("graft_state_as_of", children(3))
      val spec = pipelineFor(root).speculativeTabletRowsFor(Some(ref))
      GraftBridge.logicalPlan(store.readTabletAt(tablet, atHeight, spec))
    }
  }

  /** Shared block-ref argument parse for the fork-branch TVF forms.
    * Unambiguous syntax: `#<num>` = a bare block NUMBER on the current
    * chain; anything else = a block ID. A digits-only heuristic would
    * misroute hex block ids that happen to be all decimal digits
    * (silently, for short ones). */
  private def blockRefArg(fn: String, e: Expression): graft.model.BlockRef = {
    val refStr = stringArg(fn, e, "block_ref")
    require(refStr.nonEmpty,
      s"$fn: block_ref must be a block id, or '#<num>' for a bare block " +
        "number on the current chain (got an empty string)")
    if (refStr.startsWith("#")) {
      val numPart = refStr.drop(1)
      require(numPart.nonEmpty && numPart.forall(_.isDigit) &&
        numPart.length <= 18,
        s"$fn: malformed bare block number '$refStr'")
      graft.model.BlockRef("", numPart.toLong)
    } else graft.model.BlockRef(refStr, 0L)
  }

  /** Builder for the `graft_tablet_diff` TVF: the store-level incremental
    * diff plan, built directly (no marker — unlike the as-of read there
    * is no later-resolved snapshot choice to defer; the diff's own
    * pre-state resolve already consults the TabletIndex internally).
    *
    * EAGER by design: resolving this function runs the diff's driver-side
    * probe aggregate (a window-bounded scan) at ANALYSIS time — the same
    * class of work the StateAsOfRule runs for the as-of TVF, with a
    * larger constant. An `EXPLAIN` over this TVF therefore does real
    * (window-sized) work; the window is a changefeed poll's sliver by
    * contract, and `readTabletDiff` materializes its result before
    * returning (releasing its internal persist), so execution just reads
    * the checkpointed blocks — and repeated TVF analyses cannot
    * accumulate cache-manager entries.
    *
    * CHECKPOINT LIFECYCLE: the blocks behind each analysis are reclaimed
    * by the ContextCleaner once the plan is GC-unreachable; SQL callers
    * who outpace the GC free them explicitly with
    * `SELECT * FROM graft_release_diffs()` (every diff planned here is
    * tracked, weakly, per session for exactly that verb — a weak ref, so
    * tracking never pins what the cleaner would otherwise reclaim). */
  private[functions] def tabletDiffTable(children: Seq[Expression]): LogicalPlan = {
    require(children.length == 4,
      "graft_tablet_diff(root, tablet, from_height, to_height) takes exactly 4 arguments")
    val store = storeFor(stringArg("graft_tablet_diff", children(0), "root"))
    val diff = store.readTabletDiff(
      stringArg("graft_tablet_diff", children(1), "tablet"),
      longArg("graft_tablet_diff", children(2), "from_height"),
      longArg("graft_tablet_diff", children(3), "to_height"))
    trackDiff(SparkSession.active, diff)
    GraftBridge.logicalPlan(diff)
  }

  /** Checkpointed-diff registry behind `graft_release_diffs()`: the
    * RDDs (not the DataFrames — the wrapper dies young while the plan
    * the user executes keeps the RDD alive) of every TVF-planned diff.
    * WEAK on both axes: a WeakHashMap key never pins a session that
    * stopped planning diffs (its entry vanishes with the session), and
    * the queue holds weak refs to the RDDs (tracking never pins what the
    * ContextCleaner would reclaim — a collected referent means the
    * cleaner already did, or will do, the freeing). SparkSession uses
    * reference equality, so the map cannot cross-talk between sessions. */
  private val plannedDiffs = new java.util.WeakHashMap[
    SparkSession,
    java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]]()

  private def trackDiff(
      spark: SparkSession, df: org.apache.spark.sql.DataFrame): Unit = {
    val q = plannedDiffs.synchronized {
      var queue = plannedDiffs.get(spark)
      if (queue == null) {
        queue = new java.util.concurrent.ConcurrentLinkedQueue
        plannedDiffs.put(spark, queue)
      }
      queue
    }
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        q.add(new java.lang.ref.WeakReference(lr.rdd))
      case _ => ()
    }
  }

  /** Free every still-reachable diff checkpoint planned in `spark` —
    * blocks for local checkpoints, blocks AND files for reliable ones
    * (reliable-checkpoint files are only auto-reclaimed under
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so without
    * this a durable-diff session leaks one rdd-N/ directory per diff).
    * Returns how many checkpoint sets were dropped. */
  private[graft] def releaseDiffs(spark: SparkSession): Int = {
    val q = plannedDiffs.synchronized(plannedDiffs.remove(spark))
    if (q == null) 0
    else {
      var n = 0
      val it = q.iterator()
      while (it.hasNext) Option(it.next().get()).foreach { rdd =>
        GraftBridge.freeRddCheckpoint(rdd); n += 1
      }
      n
    }
  }

  /** Builder for `graft_release_diffs()` (see the injection-site note):
    * frees the session's tracked diff checkpoints at analysis time and
    * returns one row with the count. */
  private[functions] def releaseDiffsTable(children: Seq[Expression]): LogicalPlan = {
    require(children.isEmpty, "graft_release_diffs() takes no arguments")
    val spark = SparkSession.active
    val released = releaseDiffs(spark)
    import spark.implicits._
    GraftBridge.logicalPlan(Seq(released).toDF("released"))
  }

  /** Builder for the `graft_singlet_as_of` TVF: the store's
    * manifest-pruned singlet point read, built directly (a pure
    * declarative plan — no driver-side aggregate at analysis).
    *
    * With a 4th argument (a block ref — id, or `#<num>`) the read is a
    * FORK-BRANCH read, like `graft_state_as_of`'s: the registered
    * pipeline resolves that block's speculative overlay and it rides
    * above the durable argmax — the reference's singlet reads apply the
    * speculative entries the same way (read.go:300–349). */
  private[functions] def singletAsOfTable(children: Seq[Expression]): LogicalPlan = {
    require(children.length == 3 || children.length == 4,
      "graft_singlet_as_of(root, singlet, at_height[, block_ref]) takes 3 or 4 arguments")
    val root = stringArg("graft_singlet_as_of", children(0), "root")
    val store = storeFor(root)
    val spec =
      if (children.length == 3) Nil
      else pipelineFor(root).speculativeSingletEntriesFor(
        Some(blockRefArg("graft_singlet_as_of", children(3))))
    GraftBridge.logicalPlan(store.readSingletEntryAt(
      stringArg("graft_singlet_as_of", children(1), "singlet"),
      longArg("graft_singlet_as_of", children(2), "at_height"), spec))
  }

  /** Builder for the `graft_singlet_history` TVF: the store's
    * manifest-pruned full-history singlet read (most recent first — O3),
    * built directly like the other point-read TVFs.
    *
    * With a 3rd argument (a block ref) the history is a FORK-BRANCH
    * history: the branch's speculative entries are prepended ABOVE
    * durable at equal height — the reference's speculative-first history
    * (read.go:356–408). */
  private[functions] def singletHistoryTable(children: Seq[Expression]): LogicalPlan = {
    require(children.length == 2 || children.length == 3,
      "graft_singlet_history(root, singlet[, block_ref]) takes 2 or 3 arguments")
    val root = stringArg("graft_singlet_history", children(0), "root")
    val store = storeFor(root)
    val spec =
      if (children.length == 2) Nil
      else pipelineFor(root).speculativeSingletEntriesFor(
        Some(blockRefArg("graft_singlet_history", children(2))))
    GraftBridge.logicalPlan(store.readSingletEntries(
      stringArg("graft_singlet_history", children(1), "singlet"), spec))
  }
}
